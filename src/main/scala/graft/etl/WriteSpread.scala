package graft.etl

/** Spread factor for partitioned writes (VERDICT r9 #2).
  *
  * `df.repartition(partCol)` alone funnels each partition directory
  * through ONE task — invisible at fixture scale, a serialization point
  * when a partition holds terabytes. The fix at the three funnel sites
  * (sink_orc_roundtrip, upsert_partition_overwrite ×2, plus the DPP
  * fixture table) is `repartition(partCol, pmod(key, N))`: each directory
  * gets up to N parallel writers with files/dir bounded at N.
  *
  * N = 8 suits the 32-core fixture (writers per dir × |partitions| stays
  * near core count; BASELINE.md round 10 records the 1/8/32 sweep that
  * settled it). A 1000-executor cluster sizes it executor-count-ish, so
  * the call sites read it here, where it can later be derived from the
  * cluster. */
private[graft] object WriteSpread {
  def n: Int = 8
}
