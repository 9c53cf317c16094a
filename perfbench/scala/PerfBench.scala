package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.{GraftSession, Tables}
import graft.battery.{BatteryPipeline, Collate, FadeRul, Features, Normalize, QuickPlots, Report}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.queries._

/** One benchmark process: set up a tuned session, run the workload's
  * operation list once cold and then warm, at least `--warm-passes` times
  * and until `--seconds` have passed,
  * write the outputs the harness checks, and dump one JSON record.
  *
  * Closed loop, one client: each operation starts after the previous one's
  * output is fully consumed. Battery cells always write their real sinks.
  * Catalog rows write their result as parquet in the cold pass (a one-shot
  * job's real output, and what the harness checks) and into a noop sink in
  * the warm passes. With `--trace 1` the process also records
  * construct/plan/execute spans, per-op Spark task metrics through a
  * listener, persisted-artifact builds, and per-kernel probe timings.
  *
  * Usage (see run.py, which owns the protocol):
  *   PerfBench --workload W --fixture DIR --scratch DIR --out FILE
  *             --cores N --seconds S --warm-passes K --trace 0|1 --launch-ms T
  *             [--ops a,b,c] [--setup-only 1]
  */
object PerfBench {

  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

  /** In-memory span recorder; `sub` spans are kept only when tracing. */
  final class Tracer(val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack: List[Int] = List(-1)
    private var next = 0
    def span[A](name: String)(f: => A): A = {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }
    def sub[A](name: String)(f: => A): A = if (on) span(name)(f) else f
  }

  final case class OpResult(pass: Int, name: String, wallS: Double,
                            compiles: Long, error: Option[String])

  private def opts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val workload = o("workload")
    val fixture = o("fixture")
    val scratch = o("scratch")
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val launchMs = o("launch-ms").toLong
    val minWarm = o.getOrElse("warm-passes", "1").toInt

    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sessionState.conf // force the lazily built session state
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    val rec = new Json
    rec.num("setup_s", setupS)
    rec.num("cores", cores)
    rec.str("spark_version", spark.version)
    rec.str("java_version", System.getProperty("java.version"))
    if (o.get("setup-only").contains("1")) { // a set-up sample and nothing else
      spark.stop()
      rec.write(o("out"))
      return
    }

    val tr = new Tracer(traced)
    val listener = if (traced) Some(new OpListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val artifacts = new ArtifactLog
    val results = mutable.ArrayBuffer.empty[OpResult]
    val w: Workload = workload match {
      case "battery_fleet" => new BatteryFleet(spark, fixture, s"$scratch/out")
      case _ => new CatalogRows(spark, fixture, o("ops").split(',').toSeq, s"$scratch/check")
    }

    // one traversal of the op list; every op's failure is recorded, never fatal
    def pass(p: Int): Unit = tr.span(if (p == 0) "pass:cold" else "pass:warm") {
      w.ops.foreach { name =>
        val tag = s"$p/$name"
        if (traced) spark.sparkContext.setJobGroup(tag, name)
        val before = if (traced) artifacts.snapshot() else Map.empty[String, Long]
        val n0 = codegenCompiles()
        val t0 = System.nanoTime()
        val err = try { tr.span(s"op:$name")(w.run(name, cold = p == 0, tr)); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        results += OpResult(p, name, (System.nanoTime() - t0) / 1e9, codegenCompiles() - n0, err)
        System.err.println(f"[perfbench] pass $p $name ${results.last.wallS}%.3f s${err.fold("")(" " + _)}")
        if (traced) artifacts.record(p, name, before, artifacts.snapshot())
      }
      if (traced) spark.sparkContext.clearJobGroup()
    }

    // per pass: wall time, and the JVM-wide time spent in JIT compilers,
    // collectors and Spark's codegen compiler, with the number of codegen
    // compiles (cache misses)
    val passWall, passJit, passGc, passCodegen, passCompiles = mutable.ArrayBuffer.empty[Double]
    def timedPass(p: Int): Unit = {
      val (j0, g0, c0, n0) = (jitMs(), gcMs(), CodeGenerator.compileTime, codegenCompiles())
      val t0 = System.nanoTime()
      pass(p)
      passWall += (System.nanoTime() - t0) / 1e9
      passJit += (jitMs() - j0) / 1e3
      passGc += (gcMs() - g0) / 1e3
      passCodegen += (CodeGenerator.compileTime - c0) / 1e9
      passCompiles += (codegenCompiles() - n0).toDouble
    }
    tr.span(s"workload:$workload") {
      timedPass(0)
      val warmStart = System.nanoTime()
      var p = 1
      while (p <= minWarm || ((System.nanoTime() - warmStart) / 1e9 < seconds && p < 200)) {
        timedPass(p); p += 1
      }
    }

    // untimed: what the harness's checks need, then (traced) the probes
    val checks = new Json
    try w.checks(checks)
    catch { case NonFatal(e) => checks.str("error", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val probes = new Json
    if (traced) w.probes(tr, probes)
    listener.foreach { l => org.apache.spark.PerfBenchDrain(spark.sparkContext); spark.sparkContext.removeSparkListener(l) }

    rec.arr("pass_wall_s", passWall.map(Json.n))
    rec.arr("pass_jit_s", passJit.map(Json.n))
    rec.arr("pass_gc_s", passGc.map(Json.n))
    rec.arr("pass_codegen_s", passCodegen.map(Json.n))
    rec.arr("pass_codegen_compiles", passCompiles.map(Json.n))
    rec.arr("ops", results.map { r =>
      val j = new Json
      j.num("pass", r.pass); j.str("name", r.name); j.num("wall_s", r.wallS)
      j.num("codegen_compiles", r.compiles.toDouble)
      r.error.foreach(j.str("error", _))
      j.render
    })
    rec.raw("checks", checks.render)
    rec.raw("probes", probes.render)
    rec.raw("families", w.families.map { case (k, v) => Json.q(k) + ":" + Json.q(v) }
      .mkString("{", ",", "}"))
    if (traced) {
      val origin = tr.spans.map(_.t0).min
      rec.arr("spans", tr.spans.map(s =>
        s"[${s.id},${s.parent},${Json.q(s.name)},${(s.t0 - origin) / 1e9},${(s.t1 - origin) / 1e9}]"))
      listener.foreach(l => rec.raw("tasks", l.render))
      rec.raw("artifacts", artifacts.render)
    }
    rec.num("peak_rss_kb", peakRssKb().toDouble)
    spark.stop()
    rec.write(o("out"))
  }

  /** Time the JIT compilers have spent, in ms, summed over their threads. */
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).fold(0L)(_.getTotalCompilationTime)

  /** Time the collectors have spent, in ms, over all collectors. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Codegen compiles so far in this JVM: one per codegen cache miss. */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** VmHWM of this process, in kB (0 where /proc is unavailable). */
  def peakRssKb(): Long = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0L
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Warm-up once, then the median of three forced runs. */
  def probe(tr: Tracer, name: String)(f: => Unit): Double = {
    f
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); tr.span(s"probe:$name")(f); (System.nanoTime() - t0) / 1e9
    })
  }

  trait Workload {
    def ops: Seq[String]
    def run(name: String, cold: Boolean, tr: Tracer): Unit
    def checks(out: Json): Unit
    def probes(tr: Tracer, out: Json): Unit
    /** op name -> the module family its time is attributed to */
    def families: Map[String, String]
  }

  /** Catalog rows, each through its `QueryCatalog` function. */
  final class CatalogRows(spark: SparkSession, dir: String, val ops: Seq[String],
      checkDir: String) extends Workload {
    private val byName: Map[String, QueryDef] = QueryCatalog.all.map(q => q.name -> q).toMap
    val families: Map[String, String] = {
      val owners = Seq("relational" -> RelationalOps.defs, "analytics" -> AnalyticsOps.defs,
        "events" -> EventOps.defs, "stream_shaped" -> StreamShaped.defs,
        "text" -> TextOps.defs, "vector" -> VectorOps.defs, "multimodal" -> MultimodalOps.defs)
      owners.flatMap { case (fam, defs) => defs.map(_.name -> fam) }.toMap
        .filter { case (k, _) => ops.contains(k) }
    }
    def run(name: String, cold: Boolean, tr: Tracer): Unit = {
      val df = tr.sub("construct")(byName(name).query(spark, dir))
      if (tr.on) tr.span("plan")(df.queryExecution.executedPlan)
      tr.sub("execute") {
        if (cold) df.write.mode("overwrite").parquet(s"$checkDir/$name") else noop(df)
      }
    }
    def checks(j: Json): Unit =
      j.raw("oracle_sql", ops.flatMap(n => QueryCatalog.oracleSql.get(n).map(n -> _))
        .map { case (k, v) => Json.q(k) + ":" + Json.q(v) }.mkString("{", ",", "}"))
    def probes(tr: Tracer, j: Json): Unit = {
      if (!ops.exists(_.startsWith("e"))) return
      val docs = Tables.documents(spark, dir)
      val emb = Tables.embeddings(spark, dir)
        .select(VectorFunctions.toDoubleArr(col("embedding")).as("v"))
        .persist(StorageLevel.MEMORY_ONLY)
      emb.count()
      val text = col("text"); val v = col("v")
      Seq[(String, () => DataFrame)](
        "shingles" -> (() => docs.select(TextFunctions.shingles(text, 5))),
        "signatureTable" -> (() => TextFunctions.signatureTable(docs, 64, 5)),
        "simhash" -> (() => docs.select(TextFunctions.simhash("text"))),
        "charCounts" -> (() => docs.select(TextFunctions.charCounts(text))),
        "dot" -> (() => emb.select(VectorFunctions.dot(v, v))),
        "l2Micros" -> (() => emb.select(VectorFunctions.l2Micros(v, v))),
        "lshTableBuckets" -> (() => emb.select(VectorFunctions.lshTableBuckets(v, 8, 8, 64)))
      ).foreach { case (k, df) => j.num(k, probe(tr, k)(noop(df()))) }
      emb.unpersist()
    }
  }

  /** N cells, each through `BatteryPipeline.run` with its real sinks, then
    * `Collate.featuresFromDir` over the fleet's feature CSVs. */
  final class BatteryFleet(spark: SparkSession, dir: String, out: String) extends Workload {
    private val cells: Seq[String] = new File(dir).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".csv")).map(_.stripSuffix(".csv")).sorted
    val ops: Seq[String] = cells :+ "collate"
    val families: Map[String, String] = ops.map(_ -> "battery").toMap
    def run(name: String, cold: Boolean, tr: Tracer): Unit =
      if (name == "collate") noop(Collate.featuresFromDir(spark, out))
      else BatteryPipeline.run(spark, s"$dir/$name.csv", name, ratedAh = 3.0,
        outDir = Some(out)).features.unpersist()
    def checks(j: Json): Unit = {
      j.num("collated_rows", Collate.featuresFromDir(spark, out).count().toDouble)
      j.str("out_dir", out)
    }
    /** Stage split of one fleet traversal: the calls `BatteryPipeline.run`
      * makes, in its order and against the same kind of sinks, each forced. */
    def probes(tr: Tracer, j: Json): Unit = {
      val acc = mutable.LinkedHashMap("normalize" -> 0.0, "features" -> 0.0,
        "summary" -> 0.0, "sinks" -> 0.0)
      def t[A](stage: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val a = tr.span(s"probe:$stage")(f)
        acc(stage) += (System.nanoTime() - t0) / 1e9
        a
      }
      val d = s"$out-stages"
      new File(d).mkdirs()
      cells.foreach { cell =>
        val p = s"$d/${cell}_timeseries.parquet"
        t("normalize")(Normalize.writeParquet(
          Normalize(spark, s"$dir/$cell.csv").orderBy("timestamp"), p))
        val features = t("features") {
          val f = Features.all(spark.read.parquet(p), 3.0, 0.05)
            .persist(StorageLevel.MEMORY_AND_DISK)
          f.count(); f
        }
        val summary = t("summary") {
          val s = FadeRul.summary(features).select(lit(cell).as("cell_id"),
            col("Q0_Ah"), col("fade_slope_pct_per_cycle"), col("cycles_to_80pct"))
          s.head(); s
        }
        t("sinks") {
          features.orderBy("cycle_index").coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(s"$d/${cell}_features_full.csv")
          summary.coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(s"$d/${cell}_summary.csv")
          Files.writeString(Paths.get(s"$d/${cell}_report.md"),
            Report.markdown(cell, summary, features))
          QuickPlots.write(features, cell, d)
        }
        features.unpersist()
      }
      acc.foreach { case (k, v) => j.num(k, v) }
    }
  }

  /** Build-once artifacts, observed by listing the families' directories
    * around each op: a key directory whose `_SUCCESS` appears or changes
    * was built; an op that builds nothing serves the keys it built before. */
  final class ArtifactLog {
    val families = Seq("graft_sigstore", "graft_lsh_index", "graft_pq_index", "graft_pqbase",
      "graft_ivf_store", "graft_quantizers", "graft_anntruth", "graft_editpairs",
      "graft_coshare_capped", "graft_fmt")
    private val ownKeys = mutable.Map.empty[String, Set[String]]
    private val rows = mutable.ArrayBuffer.empty[String]

    private def bytes(f: File): Long =
      if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(bytes).sum

    /** key dir -> its `_SUCCESS` mtime */
    def snapshot(): Map[String, Long] = families.flatMap { fam =>
      Option(new File(s"/tmp/$fam").listFiles()).toSeq.flatten
        .map(k => new File(k, "_SUCCESS"))
        .filter(_.exists()).map(ok => ok.getParent -> ok.lastModified())
    }.toMap

    def record(pass: Int, op: String, before: Map[String, Long],
               after: Map[String, Long]): Unit = {
      val built = after.keySet.filter(k => !before.get(k).contains(after(k)))
      val served =
        if (built.isEmpty) ownKeys.getOrElse(op, Set.empty).count(after.contains) else 0
      ownKeys(op) = ownKeys.getOrElse(op, Set.empty) ++ built
      val b = built.toSeq.map(k => bytes(new File(k))).sum
      rows += s"""{"pass":$pass,"op":${Json.q(op)},"built":${built.size},"served":$served,"bytes":$b}"""
    }
    def render: String = rows.mkString("[", ",", "]")
  }

  /** Minimal JSON object writer (the record has no nesting beyond raw parts). */
  final class Json {
    private val parts = mutable.ArrayBuffer.empty[String]
    def num(k: String, v: Double): Unit = parts += s"${Json.q(k)}:${Json.n(v)}"
    def str(k: String, v: String): Unit = parts += s"${Json.q(k)}:${Json.q(v)}"
    def raw(k: String, v: String): Unit = parts += s"${Json.q(k)}:$v"
    def arr(k: String, vs: Iterable[String]): Unit = raw(k, vs.mkString("[", ",", "]"))
    def render: String = parts.mkString("{", ",", "}")
    def write(path: String): Unit = Files.writeString(Paths.get(path), render)
  }
  object Json {
    def n(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def q(s: String): String = "\"" + String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
