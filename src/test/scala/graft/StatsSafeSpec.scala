package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf
import graft.operators.Dedup
import graft.plans.Iterative

/** The iterative-fold checkpoint contract ([[Iterative.cut]]): lineage
  * is cut, results are identical, and — the regression this spec
  * exists for — the rebuilt leaf carries NO origin statistics, so a
  * chain of folds cannot compound sizeInBytes estimates into
  * million-digit BigInts (the r18 planning blowup: digits doubled per
  * fold until the driver sat in BigInteger.multiplyToomCook3).
  */
class StatsSafeSpec extends SparkSpec {

  private def sizeBits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.bigInteger.bitLength

  test("fold chain keeps plan-statistic magnitudes bounded") {
    import spark.implicits._
    var standing = Dedup.connectedComponents(
      Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"))
    for (r <- 1 to 6) {
      val edges = Seq((r * 10L, r * 10L + 1L), (r * 10L + 2L, 1L))
        .toDF("id_a", "id_b")
      standing = Iterative.cut(Dedup.updateComponents(standing, edges))
      // a stats-carrying checkpoint doubles this per fold (hundreds of
      // bits by fold 6, millions by fold ~20); the stats-free leaf
      // stays at defaultSizeInBytes magnitude
      assert(sizeBits(standing) <= 64, s"fold $r: ${sizeBits(standing)} bits")
    }
    // and the labels are still right after 6 folds
    val got = standing.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = (1 to 6).flatMap(r =>
      Seq((r * 10L, r * 10L + 1L), (r * 10L + 2L, 1L))) ++ Seq((1L, 2L), (3L, 4L))
    val batch = Dedup.connectedComponents(
      spark.createDataFrame(all).toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
  }

  test("cut preserves rows and schema exactly") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null), (3L, "c")).toDF("id", "v")
      .repartition(3)
    val cut = Iterative.cut(df)
    assert(cut.schema == df.schema)
    assert(cut.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, null), (3L, "c")))
  }

  test("cutSized lands a tiny frame as one partition, else as cut") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, if (i % 7 == 0) null else s"v$i"))
      .toDF("id", "v").repartition(8)
    def rowsOf(d: DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val cut = Iterative.cut(df)
    val sized = Iterative.cutSized(df)
    assert(cut.rdd.getNumPartitions == 8)
    assert(sized.rdd.getNumPartitions == 1)
    assert(sized.schema == cut.schema)
    assert(rowsOf(sized) == rowsOf(cut))
    // a 1-byte advisory size puts the target above 8 partitions: untouched
    val wide = Sessions.withConf(spark, SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key -> "1") {
      Iterative.cutSized(df)
    }
    assert(wide.rdd.getNumPartitions == 8)
    assert(rowsOf(wide) == rowsOf(cut))
  }

  test("cutCounting resolves flagCol to exactly one column") {
    import spark.implicits._
    val df = Seq((1L, true, false), (2L, false, false)).toDF("id", "changed", "CHANGED")
    val missing = intercept[IllegalArgumentException](Iterative.cutCounting(df, "nope"))
    assert(missing.getMessage.contains("StatsSafeCheckpoint.counting: no column 'nope'"))
    val ambiguous = intercept[IllegalArgumentException](Iterative.cutCounting(df, "changed"))
    assert(ambiguous.getMessage.contains("ambiguous"))
    // one case-variant match resolves the way the analyzer would
    val one = Seq((1L, true), (2L, false)).toDF("id", "changed")
    val (_, flagged) = Iterative.cutCounting(one, "Changed")
    assert(flagged == 1L)
  }
}
