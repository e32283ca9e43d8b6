package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf

/** Plan utilities for ITERATIVE DataFrame algorithms (CC loops,
  * PageRank rounds, fold-the-output-back-in ingest chains).
  */
object Iterative {

  /** The iterative-fold lineage cut: `localCheckpoint()` semantics, but
    * the rebuilt leaf carries NO origin statistics. Plain
    * `localCheckpoint` preserves the child plan's Statistics, and a
    * join loop then SQUARES the carried sizeInBytes estimate every
    * fold — the BigInt's digits double per round until the driver
    * spends minutes in million-digit arithmetic inside statistics
    * estimation (measured: 10 s → 681 s per fold by fold 7 of the
    * ingest-CC chain, identical increments; see
    * [[org.apache.spark.sql.graftglue.StatsSafeCheckpoint]]).
    * Use this wherever a checkpointed frame re-enters a join in a
    * LOOP or is folded back in as the next cycle's input.
    */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftglue.StatsSafeCheckpoint(df)

  /** [[cut]] that ALSO answers "how many rows set boolean `flagCol`?"
    * in the SAME materialization job — the iterative loop's convergence
    * probe without a follow-up join + head action per round (r21: the
    * CC loop paid one such job every round). Retry-safe: the count sums
    * per-partition results, not accumulators.
    */
  def cutCounting(df: DataFrame, flagCol: String): (DataFrame, Long) =
    org.apache.spark.sql.graftglue.StatsSafeCheckpoint.counting(df, flagCol)

  /** [[cut]], then coalesce the landed leaf to the partition count its
    * EXACT size asks for: ceil(sizeInBytes / the session's advisory
    * partition size), clamped to [1, 10000], applied only when that is
    * fewer partitions than the leaf has. A small frame landed from a
    * wide upstream otherwise keeps the upstream's partition count, and
    * every later job over it schedules that many tasks for a few KB
    * (measured r20: q171 2.3 → 4.0 s from leaf task overhead alone;
    * r21: q142's ~65 merge rounds × 32 tasks over a 500-row dictionary,
    * ~16 s). The cut's statistics are exact, so the target scales with
    * the data: a large frame keeps hundreds of partitions.
    */
  def cutSized(df: DataFrame): DataFrame = {
    val landed = cut(df)
    val advisory = math.max(1L, landed.sparkSession.sessionState.conf
      .getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val size = landed.queryExecution.analyzed.stats.sizeInBytes
    val target = ((size + advisory - 1) / advisory).max(1).min(10000).toInt
    if (target < landed.rdd.getNumPartitions) landed.coalesce(target) else landed
  }
}
