package graft

/** Read-only views of package-private engine state that the benchmark
  * harness needs between queries. */
object PerfbenchHooks {
  /** RDD ids the suffix-rank memo keeps pinned across queries. */
  def suffixMemoPinnedRddIds: Set[Int] = graft.ops.SuffixRankMemo.pinnedRddIds
}
