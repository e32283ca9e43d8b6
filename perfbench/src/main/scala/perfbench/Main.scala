package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.ReferencePipeline
import graft.sources.{AtomicSwap, Sinks}

/** The benchmark's JVM side: one closed-loop driver thread, `local[cores]`.
  *
  * Usage: `Main --workload W --data DIR --out DIR --seconds S --seed N
  * --trace 0|1 --queries q1,q2,.. --min-ops K --warmup-passes 0|1`
  *
  * Set-up is timed as session start plus a warm-up: with `--warmup-passes 1`
  * one untimed pass over the real inputs (the cold pass: class loading, JIT
  * and code generation of the workload's own operators; on the catalog it
  * also writes each result for the content check), with 0 a small fixed
  * warm-up ([[Main.warmUp]]) so that the first measured pass is the
  * workload's first run in the session, as for a batch job started fresh.
  * Then whole passes run until `seconds` of measured time has accumulated
  * and at least `min-ops` operations were measured. An operation is one catalog query
  * (construction + Catalyst planning + `toRdd.count`) or one published table
  * (parquet write + atomic swap); its row count is recorded outside the timed
  * window. With `--trace 1` every pass is traced: a job listener, a job
  * group per phase and in-memory spans; its per-layer metrics are in its
  * `layers`. Results go to `out/result.json`, spans to
  * `out/trace.json`.
  */
object Main {
  final case class Op(name: String, lat: Double, rows: Long, error: String)
  final case class Pass(index: Int, traced: Boolean, wall: Double, ops: Seq[Op],
                        layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = o("out")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val minOps = o.getOrElse("min-ops", "1").toInt
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    new File(out).mkdirs()

    val s0 = System.nanoTime()
    val spark = graft.Sessions.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val bench = new Bench(spark, o("workload"), o("data"), out, o.get("queries"),
      o("seed").toLong, cores)
    Files.writeString(Paths.get(s"$out/oracle.json"), json(bench.oracles))
    val w0 = System.nanoTime()
    val warm =
      if (o("warmup-passes") == "1") Some(bench.pass(-1, traced = false))
      else { warmUp(spark, s"$out/warmup"); None }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val passes = mutable.ArrayBuffer.empty[Pass]
    while (passes.map(_.wall).sum < seconds || passes.map(_.ops.size).sum < minOps)
      passes += bench.pass(passes.size, traced)
    if (traced) Files.writeString(Paths.get(s"$out/trace.json"), json(bench.spans.all.map(s =>
      Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "pass" -> s.pass,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end))))
    Files.writeString(Paths.get(s"$out/result.json"), json(Map(
      "cores" -> cores, "jvm_start_s" -> jvmStartS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "warmup" -> warm.map(passJson).orNull,
      "passes" -> passes.map(passJson).toSeq)))
    spark.stop()
  }

  /** Fixed, workload-independent warm-up: a parquet round trip, an
    * aggregation, a join and JSON extraction on a few thousand rows, so the
    * first measured operation does not also pay Spark's own first use.
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(0, 5000, 1, 4)
      .select(col("id"), (col("id") % 7).as("k"),
        format_string("{\"v\": %d}", col("id")).as("j"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    back.groupBy("k").agg(count(lit(1)), sum("id")).collect()
    back.join(back.select(col("k").as("k2")).distinct(), col("k") === col("k2"))
      .select(get_json_object(col("j"), "$.v").cast("long").as("v"))
      .agg(max("v")).collect()
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "index" -> p.index, "traced" -> p.traced, "wall" -> p.wall, "layers" -> p.layers,
    "ops" -> p.ops.map(op => Map("name" -> op.name, "lat" -> op.lat, "rows" -> op.rows,
      "error" -> op.error)))

  /** Minimal JSON rendering for maps, sequences, strings, numbers, booleans. */
  def json(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
}

/** One workload's passes over one session. */
final class Bench(spark: SparkSession, workload: String, data: String, out: String,
                  queries: Option[String], seed: Long, cores: Int) {
  import Main.{Op, Pass}

  private val sc = spark.sparkContext
  val spans = new Spans
  private val listener = new JobListener
  private val rng = new scala.util.Random(seed)
  private val catalog: Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.flatMap(_.split(",")).map { q =>
      val key = graft.SparkEntry.queries.keys.find(k => k == q || k.startsWith(q + "_"))
        .getOrElse(sys.error(s"unknown query $q"))
      q -> graft.SparkEntry.queries(key)
    }

  /** DuckDB oracle SQL of the workload's queries (rows-only ones have none). */
  def oracles: Map[String, String] = catalog.flatMap { case (q, _) =>
    graft.SparkEntry.oracleSql.collectFirst {
      case (k, sql) if k == q || k.startsWith(q + "_") => q -> sql
    }
  }.toMap

  // Catalyst time of the pipeline's writes: analysis + optimization +
  // planning phases of every query execution that completes in a traced pass
  private val planMs = new java.util.concurrent.atomic.AtomicLong()
  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** One pass; `traced` attaches the listeners for this pass only. */
  def pass(index: Int, traced: Boolean): Pass = {
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
      planMs.set(0L)
      heapPools.foreach(_.resetPeakUsage())
    }
    val p = try workload match {
      case "pipeline_publish" => pipelinePass(index, traced)
      case _ => catalogPass(index, traced)
    } finally if (traced) {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    if (!traced) p
    else p.copy(layers = p.layers ++ common(index, p.wall) ++ Map(
      "jvm.peak_heap_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6))
  }

  private def group(index: Int, phase: String) = s"pb:$index:$phase"

  /** Runs `body` under a job group; returns its value and (start, end). */
  private def phase[T](index: Int, name: String)(body: => T): (T, Double, Double) = {
    sc.setJobGroup(group(index, name), name)
    val t0 = spans.now()
    try { val v = body; (v, t0, spans.now()) }
    finally sc.clearJobGroup()
  }

  private def errorOf(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}".take(500)

  // ── catalog ──────────────────────────────────────────────────────────────

  /** The warm-up pass (index -1) writes each result for the content check
    * against the oracle; measured passes count the result rows.
    */
  private def catalogPass(index: Int, traced: Boolean): Pass = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var wall = 0.0
    for ((q, fn) <- rng.shuffle(catalog)) {
      var df: DataFrame = null
      var rows = -1L
      var err: String = null
      val marks = mutable.ArrayBuffer.empty[(String, Double, Double)]
      val t0 = spans.now()
      try {
        val (d, b0, b1) = phase(index, s"$q:build")(fn(spark, data))
        df = d; marks += (("build", b0, b1))
        val (_, p0, p1) = phase(index, s"$q:plan")(df.queryExecution.executedPlan)
        marks += (("plan", p0, p1))
        val (n, e0, e1) = phase(index, s"$q:exec")(
          if (index < 0) { df.write.mode("overwrite").parquet(s"$out/dumps/$q"); -1L }
          else df.queryExecution.toRdd.count())
        rows = n; marks += (("exec", e0, e1))
      } catch { case e: Throwable => err = errorOf(e) }
      val t1 = spans.now()
      wall += t1 - t0
      ops += Op(q, t1 - t0, rows, err)
      if (traced) {
        val groups = marks.map(m => group(index, s"$q:${m._1}")).toSeq
        listener.drain(sc, groups, group(index, s"$q:fence"))
        val root = spans.add(q, "query", index, -1, t0, t1)
        marks.foreach { case (ph, a, b) =>
          val layer = ph match { case "build" => "catalog"; case "plan" => "catalyst"; case _ => "exec" }
          val id = spans.add(s"$q:$ph", layer, index, root, a, b)
          addJobSpans(index, group(index, s"$q:$ph"), id)
          ph match {
            case "build" => layers("catalog.build_s") += b - a; layers(s"catalog.$q.build_s") = b - a
            case "plan" => layers("catalyst.plan_s") += b - a
            case _ => layers(s"catalog.$q.exec_s") = b - a
          }
        }
        val buildJobs = listener.jobsOf(group(index, s"$q:build")).size
        layers(s"catalog.$q.jobs") = buildJobs
        layers("catalog.build_jobs") += buildJobs
      }
      df = null
      System.gc() // drain the ContextCleaner outside the timed window
    }
    Pass(index, traced, wall, ops.toSeq, layers.toMap)
  }

  // ── pipeline ─────────────────────────────────────────────────────────────

  private val pubDir = s"$out/published"

  private def runPipeline(raw: DataFrame): ReferencePipeline.Outputs =
    ReferencePipeline.run(raw, "json",
      keys = Seq("Temp", "NeoTreeOutcome", "BirthWeight", "Gestation", "OFC",
        "Org1", "OtherOrg1"),
      repeatableKeys = Seq("Temp", "Diag"),
      fuzzyRules = Seq(("Org1", "OtherOrg1", Seq(
        graft.operators.FuzzyRecode.Rule(
          Seq("klesiella", "klebsiella", "kleb"), "KLS", "Klebsiella sp.")))),
      fieldInfo = Seq(
        graft.operators.Validation.FieldInfo("Temp", dataType = "number",
          optional = false, minValue = Some(30.0), maxValue = Some(43.0))),
      outcomeFlags = graft.operators.DeriveColumns.referenceOutcomeFlags(
        outcomeLabel = col("NeoTreeOutcome_label"),
        birthWeight = col("birth_weight_value"),
        thermia = lit(null).cast("string")),
      vitalsTables = Seq("vitals"),
      neolabScript = Some("lab"), neolabAsOf = lit("2027-01-01"),
      cardNumericCols = Seq("los_days"), cardCategoricalCols = Seq("facility"),
      persistShared = true)

  private def pipelinePass(index: Int, traced: Boolean): Pass = {
    val raw = spark.read.parquet(s"$data/sessions.parquet")
    val ops = mutable.ArrayBuffer.empty[Op]
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val marks = mutable.ArrayBuffer.empty[(String, String, Double, Double)]
    val t0 = spans.now()
    val run = try Right(phase(index, "run")(runPipeline(raw)))
      catch { case e: Throwable => Left(errorOf(e)) }
    run.foreach { case (outs, a, b) =>
      marks += (("run", "pipeline", a, b))
      for ((name, df) <- ReferencePipeline.tableList(outs)) {
        val target = s"$pubDir/$name"
        val tmp = s"$target.tmp"
        val a = spans.now()
        val err = try {
          val (_, w0, w1) = phase(index, s"$name:write")(
            Sinks.parquet(ReferencePipeline.hygiene(df), tmp))
          val (_, s0, s1) = phase(index, s"$name:swap")(AtomicSwap.replace(target, tmp))
          marks += ((s"$name:write", "sources.write", w0, w1))
          marks += ((s"$name:swap", "sources.swap", s0, s1))
          null
        } catch { case e: Throwable => errorOf(e) }
        val b = spans.now()
        marks += ((s"table:$name", "publish", a, b))
        ops += Op(name, b - a, -1L, err)
      }
      val (_, u0, u1) = phase(index, "unpersist")(outs.shared.foreach(_.unpersist()))
      marks += (("unpersist", "pipeline", u0, u1))
    }
    val t1 = spans.now()
    // row counts and file census of what was published, outside the window
    val counted = ops.map { op =>
      if (op.error != null) op
      else try op.copy(rows = spark.read.parquet(s"$pubDir/${op.name}").count())
      catch { case e: Throwable => op.copy(error = "readback: " + errorOf(e)) }
    }
    val failed = run.left.toOption.map(e => Seq(Op("run", 0.0, -1L, e))).getOrElse(Nil)
    if (traced) {
      val groups = marks.map(m => group(index, m._1)).toSeq
      listener.drain(sc, groups, group(index, "fence"))
      val root = spans.add(s"pass$index", "pass", index, -1, t0, t1)
      val tableIds = mutable.Map.empty[String, Int]
      // tables first so their write/swap children can point at them
      marks.filter(_._2 == "publish").foreach { case (n, l, a, b) =>
        tableIds(n.stripPrefix("table:")) = spans.add(n, l, index, root, a, b)
        layers(s"pipeline.table.${n.stripPrefix("table:")}_s") = b - a
      }
      marks.filter(_._2 != "publish").foreach { case (n, l, a, b) =>
        val parent = tableIds.getOrElse(n.split(':').head, root)
        val id = spans.add(n, l, index, if (n.contains(':')) parent else root, a, b)
        addJobSpans(index, group(index, n), id)
        if (l.startsWith("sources.")) layers(s"${l}_s") += b - a
      }
      val runMark = marks.find(_._1 == "run")
      layers("pipeline.run_s") = runMark.map(m => m._4 - m._3).getOrElse(0.0)
      layers("pipeline.run_jobs") = listener.jobsOf(group(index, "run")).size
      layers("catalyst.plan_s") = planMs.get() / 1e3
      val files = Option(new File(pubDir).listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
      layers("sources.files") = files.size
      layers("sources.output_mb") = files.map(_.length).sum / 1e6
    }
    Pass(index, traced, t1 - t0, (failed ++ counted).toSeq, layers.toMap)
  }

  // ── shared trace accounting ──────────────────────────────────────────────

  private def addJobSpans(index: Int, g: String, parent: Int): Unit =
    listener.jobsOf(g).foreach(j => spans.add(s"job${j.jobId}", "jobs", index, parent,
      spans.fromEpochMs(j.startMs), spans.fromEpochMs(j.endMs)))

  /** Spark scheduling, executor and self-time metrics of one traced pass. */
  private def common(index: Int, wall: Double): Map[String, Double] = {
    val stats = listener.all
      .filter(j => j.group.startsWith(s"pb:$index:") && !j.group.endsWith(":fence"))
    val busy = Spans.unionLength(spans.all.filter(s => s.pass == index && s.layer == "jobs")
      .map(s => (s.start, s.end)))
    val runS = stats.map(_.runMs).sum / 1e3
    val self = spans.selfByLayer(index).map { case (l, v) => s"self.$l" + "_s" -> v }
    Map(
      "spark.jobs" -> stats.size.toDouble,
      "spark.stages" -> stats.map(_.stages).sum.toDouble,
      "spark.tasks" -> stats.map(_.tasks).sum.toDouble,
      "spark.job_busy_s" -> busy,
      "spark.driver_only_s" -> math.max(0.0, wall - busy),
      "executor.cpu_s" -> stats.map(_.cpuNs).sum / 1e9,
      "executor.run_s" -> runS,
      "executor.gc_s" -> stats.map(_.gcMs).sum / 1e3,
      "executor.core_util" -> runS / (wall * cores),
      "executor.input_mb" -> stats.map(_.inputBytes).sum / 1e6,
      "executor.shuffle_write_mb" -> stats.map(_.shuffleWriteBytes).sum / 1e6,
      "executor.shuffle_read_mb" -> stats.map(_.shuffleReadBytes).sum / 1e6,
      "executor.spill_mb" -> stats.map(_.spillBytes).sum / 1e6,
      "executor.peak_exec_mem_mb" ->
        stats.map(_.peakExecMem).foldLeft(0L)(math.max) / 1e6) ++ self
  }
}
