package graft.util

import java.nio.file.{Files, Path, Paths}

/** Scratch space for operators that exercise real sinks/sources (CSV lake
  * round-trips, partitioned parquet writes, streaming file drops). Lives
  * under `target/scratch` of the working directory, so a run from a copy
  * of the tree reads and writes only inside that copy. */
object Scratch {
  private val root: String =
    Paths.get(System.getProperty("user.dir"), "target", "scratch").toString

  /** The scratch root, for callers that walk it (ScaleCheck's sink-audit
    * snapshot) — one spelling, here (review r15: a hardcoded copy going
    * stale would make the audit silently report 0 bytes for every op). */
  def rootDir: String = root

  /** Fresh (emptied) scratch directory for an operator run. */
  def dir(name: String): String = {
    val p = Paths.get(root, name)
    delete(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Scratch directory that is created if missing but never wiped — for
    * session-long homes (e.g. derby.system.home) that must survive repeated
    * calls within a JVM. */
  def keep(name: String): String = {
    val p = Paths.get(root, name)
    Files.createDirectories(p)
    p.toString
  }

  /** [[keep]] with a one-time reset: wiped NOW, preserved thereafter. For
    * spark.local.dir (review r15): the keep-dir is exempt from every
    * later wipe because the live session owns it, but Spark only removes
    * its blockmgr-* and spark-* children via shutdown hook — a killed or
    * OOMed previous run leaves hundreds of MB there that every subsequent
    * run would otherwise preserve forever, on the same device Bench's io
    * calibration measures. Call strictly BEFORE the SparkContext exists. */
  def resetKeep(name: String): String = {
    delete(Paths.get(root, name))
    keep(name)
  }

  /** Wipe every child of the scratch root except the named keep-dirs —
    * Bench's pre-run staging (VERDICT r14 #1a): stale multi-GB leftovers
    * from previous verify/bench runs must be deleted OUTSIDE the timed
    * region (each op's Scratch.dir otherwise pays the delete of the LAST
    * run's output inside its own timed row), while live session dirs
    * (spark.local.dir is created at context start, before any warmup
    * code runs) must survive. */
  def wipeExcept(keepNames: Set[String]): Unit =
    wipeWhere(n => !keepNames(n))

  /** Predicate form of [[wipeExcept]]: delete the scratch children whose
    * NAME satisfies `doomed`. ScaleCheck's sink audit uses it to clear
    * previous sink output (attribution: the next op's byte delta must be
    * its own) while keeping live session dirs, Derby databases, and the
    * replicated corpus. */
  def wipeWhere(doomed: String => Boolean): Unit = {
    val r = Paths.get(root)
    if (Files.exists(r)) {
      val kids = Files.list(r)
      try {
        val it = kids.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (doomed(p.getFileName.toString)) delete(p)
        }
      } finally kids.close()
    }
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** Collision-safe name tag for a corpus dir: sha-256 prefix of the full
    * path. The previous Integer.hashCode tags could collide between two
    * DIFFERENT corpus dirs, making their materialized catalog tables and
    * scratch dirs share one name — the second build would overwrite the
    * first while the first's cache still pointed there (ADVICE r6). 48
    * bits of digest make an accidental collision implausible. */
  def pathTag(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** The DATA files of a Spark output directory — part files, excluding
    * `_SUCCESS`/metadata/hidden entries. Empty for a missing directory
    * (File.listFiles returns null there, which callers shouldn't inherit
    * as an NPE). */
  def dataFiles(dir: String): Array[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
}
