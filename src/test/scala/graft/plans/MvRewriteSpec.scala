package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.MergeData

/** The materialized-view rewrite must redirect matching aggregates onto
  * the summary scan (visible in the physical plan), return results
  * identical to the base-scan plan, decline anything it can't serve
  * from the stored partials, and compose with feed-delta maintenance.
  */
class MvRewriteSpec extends SparkSpec {
  import MaterializedViews._

  private lazy val root = Files.createTempDirectory("graft_mv_spec").toString
  private lazy val basePath = s"$root/base"
  private lazy val mvPath = s"$root/mv"

  // k: coarse group, g: fine group, v: measure, w: measure with nulls
  private def baseRows: Seq[(String, String, Long, Option[Long])] = Seq(
    ("a", "x", 10L, Some(1L)), ("a", "x", 20L, None),
    ("a", "y", 5L, Some(2L)), ("b", "x", 7L, Some(3L)),
    ("b", "y", 100L, Some(4L)), ("b", "y", 1L, None),
    ("c", "z", -4L, Some(5L)))

  private lazy val mvDef: MvDef = {
    import spark.implicits._
    spark.createDataset(baseRows).toDF("k", "g", "v", "w")
      .write.mode("overwrite").parquet(basePath)
    val d = MvDef("spec_mv", basePath, mvPath, groupCols = Seq("k", "g"),
      sums = Seq("v", "w"), counts = Seq("v", "w"),
      mins = Seq("v"), maxs = Seq("v"))
    materialize(spark, d)
    d
  }

  private def base: DataFrame = { mvDef; spark.read.parquet(basePath) }

  private def withMv[A](f: => A): A = {
    graft.GraftExtensions.register(spark)
    register(mvDef)
    try f finally deregister(basePath)
  }

  // plan-tree checks: `executedPlan.toString` truncates scan locations
  private def usesMv(d: DataFrame): Boolean =
    scans(d, mvPath) && !scans(d, basePath)
  private def usesBase(d: DataFrame): Boolean = scans(d, basePath)

  test("sum/count/min/max rewrite to the summary with identical results") {
    val q = () => base.groupBy("k", "g").agg(
      sum("v").as("s"), count(lit(1)).as("n"),
      min("v").as("lo"), max("v").as("hi")).orderBy("k", "g")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()), q().queryExecution.executedPlan.toString)
      assert(rowsOf(q()) === expected)
    }
    // deregistered again → base plan back
    assert(usesBase(q()))
  }

  test("subset rollup: coarser grouping re-aggregates the partials") {
    val q = () => base.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n")).orderBy("k")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected)
    }
  }

  test("global aggregate (no grouping) rewrites too") {
    val q = () => base.agg(sum("v").as("s"), count(lit(1)).as("n"))
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected)
    }
  }

  test("count(col) uses the per-column non-null partial") {
    val q = () => base.groupBy("k").agg(count(col("w")).as("nw")).orderBy("k")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected) // nulls in w must not count
    }
  }

  test("avg derives from sum and count partials (null-aware)") {
    val q = () => base.groupBy("k")
      .agg(avg(col("v")).as("av"), avg(col("w")).as("aw")).orderBy("k")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected)
    }
  }

  test("filters on group columns are remapped onto the summary scan") {
    val q = () => base.filter(col("k") =!= "c" && col("g").isin("x", "y"))
      .groupBy("g").agg(sum("v").as("s")).orderBy("g")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected)
    }
  }

  test("expressions over group columns and over aggregates survive") {
    val q = () => base.groupBy(upper(col("k")).as("ku"))
      .agg((sum("v") * 2 + count(lit(1))).as("sx")).orderBy("ku")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected)
    }
  }

  test("declines: filter on a non-group column") {
    val q = () => base.filter(col("v") > 0).groupBy("k").agg(sum("v").as("s"))
    withMv(assert(usesBase(q())))
  }

  test("declines: distinct aggregate and unsupported functions") {
    val qd = () => base.groupBy("k").agg(countDistinct("v").as("nd"))
    val qf = () => base.groupBy("k").agg(first("v").as("f"))
    withMv {
      assert(usesBase(qd()))
      assert(usesBase(qf()))
    }
    // results unaffected by the rule having inspected them
    withMv(assert(rowsOf(qd().orderBy("k")).nonEmpty))
  }

  test("declines: non-grouped column outside an aggregate, missing partial") {
    // sum over a column with no stored partial
    val q = () => base.groupBy("k").agg(sum(col("v") + 1).as("s1"))
    withMv(assert(usesBase(q())))
  }

  test("unregistered base is never touched") {
    graft.GraftExtensions.register(spark)
    val q = base.groupBy("k").agg(sum("v").as("s"))
    assert(usesBase(q))
  }

  test("SQL-surface aggregates over the path relation rewrite too") {
    val q = () => {
      spark.read.parquet(basePath).createOrReplaceTempView("mv_spec_base")
      spark.sql(
        "SELECT k, sum(v) AS s, count(*) AS n FROM mv_spec_base GROUP BY k ORDER BY k")
    }
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()), q().queryExecution.executedPlan.toString)
      assert(rowsOf(q()) === expected)
    }
  }

  test("HAVING (filter above the aggregate) composes with the rewrite") {
    val q = () => base.groupBy("k").agg(sum("v").as("s"))
      .filter(col("s") > 20).orderBy("k")
    val expected = rowsOf(q())
    withMv {
      assert(usesMv(q()))
      assert(rowsOf(q()) === expected)
    }
  }

  test("several summaries per base: the first that serves wins; fallthrough works") {
    // a coarse summary on (k) only — cannot serve (k, g) groupings
    val coarsePath = s"$root/mv_coarse"
    val coarse = MvDef("spec_mv_coarse", basePath, coarsePath,
      groupCols = Seq("k"), sums = Seq("v"))
    materialize(spark, coarse)
    val fineQ = () => base.groupBy("k", "g").agg(sum("v").as("s")).orderBy("k", "g")
    val byKQ = () => base.groupBy("k").agg(sum("v").as("s")).orderBy("k")
    val expFine = rowsOf(fineQ())
    val expByK = rowsOf(byKQ())
    graft.GraftExtensions.register(spark)
    register(coarse)
    register(mvDef) // fine-grained fallback, registered second
    try {
      // coarse declined, fine served
      assert(scans(fineQ(), mvPath), fineQ().queryExecution.executedPlan)
      assert(rowsOf(fineQ()) === expFine)
      // preference order: coarse first
      assert(scans(byKQ(), coarsePath), byKQ().queryExecution.executedPlan)
      assert(rowsOf(byKQ()) === expByK)
    } finally deregister(basePath)
  }

  test("approx-distinct rollups rewrite onto stored HLL sketches exactly") {
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate}
    val hllPath = s"$root/mv_hll"
    val d = mvDef.copy(name = "spec_mv_hll", mvPath = hllPath,
      hlls = Seq("v"), hllLgK = 12)
    materialize(spark, d)
    val q = () => base.groupBy("k")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), 12)).as("nd"))
      .orderBy("k")
    val expected = rowsOf(q()) // register-wise union == union's sketch: exact
    graft.GraftExtensions.register(spark)
    register(d)
    try {
      assert(scans(q(), hllPath) && !scans(q(), basePath),
        q().queryExecution.executedPlan)
      assert(rowsOf(q()) === expected)
      // a different lgK must NOT be served by the stored sketch
      val other = base.groupBy("k")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), 14)).as("nd"))
      assert(usesBase(other))
    } finally deregister(basePath)
  }

  test("feed-delta maintenance advances the summary without a base rescan") {
    import spark.implicits._
    // lake + MV over it, then one merge batch; MV advanced from the
    // change feed only; the rewritten query serves the post-merge state
    val lakeDir = s"$root/lake"
    val feedDir = s"$root/feed"
    val mv2Dir = s"$root/mv2"
    val init = spark.createDataset(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "b", 2L)))
      .toDF("id", "k", "v")
    init.write.mode("overwrite").partitionBy("k").parquet(lakeDir)

    val d0 = MvDef("lake_mv", lakeDir, mv2Dir, groupCols = Seq("k"),
      sums = Seq("v"), counts = Nil, countStar = true)
    materialize(spark, d0)

    // batch: update id=1 (10→13), delete id=3, insert id=5 under "b"
    val batch = spark.createDataset(Seq(
      (1L, "a", 13L, false), (3L, "b", 0L, true), (5L, "b", 50L, false)))
      .toDF("id", "k", "v", "__delete")
    MergeData.mergeInto(spark, lakeDir, batch, Seq("k"), Seq("id"),
      changeFeed = Some((feedDir, 0L)))

    val feed = spark.read.parquet(feedDir)
    val deltas = MergeData.feedDeltas(feed, Seq("k"), "v")
    val mv1 = spark.read.parquet(mv2Dir)
    val advanced = appliedDeltas(mv1, deltas, d0, sumOf = "v")
    val mv3Dir = s"$root/mv3"
    advanced.write.mode("overwrite").parquet(mv3Dir)

    val d1 = d0.copy(mvPath = mv3Dir)
    graft.GraftExtensions.register(spark)
    register(d1)
    try {
      val q = spark.read.parquet(lakeDir).groupBy("k")
        .agg(sum("v").as("s"), count(lit(1)).as("n")).orderBy("k")
      assert(scans(q, mv3Dir) && !scans(q, lakeDir), q.queryExecution.executedPlan)
      assert(rowsOf(q) === Seq(Seq("a", 33L, 2L), Seq("b", 52L, 2L)))
    } finally deregister(lakeDir)
  }
}
