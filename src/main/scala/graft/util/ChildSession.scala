package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Child sessions: same SparkContext and catalog, a private SQLConf, so an
  * operator can plan under its own confs without touching the session it
  * is handed. One child is built per (SparkContext, conf set) and reused.
  * Spark keys its codegen cache on the session's classloader, so a
  * `newSession()` per call recompiles every generated class on every call;
  * a reused child compiles them once.
  *
  * A child holds only what its callers put in it: callers that register
  * per-query views which must die with the session (StreamOps' memory
  * sinks) make their own `newSession()`. */
object ChildSession {
  private val children = new ConcurrentHashMap[String, SparkSession]()

  /** The child of `spark`'s context with exactly `conf` set on top of the
    * context defaults. */
  def apply(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val sorted = conf.sortBy(_._1)
    val key = spark.sparkContext.applicationId + "|" +
      sorted.map { case (k, v) => s"$k=$v" }.mkString("|")
    children.computeIfAbsent(key, _ => {
      val s = spark.newSession()
      sorted.foreach { case (k, v) => s.conf.set(k, v) }
      s
    })
  }
}
