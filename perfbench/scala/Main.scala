package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}

/** The harness JVM: one local[4] session, one closed-loop client (each call
  * starts after the previous one returned), timing only calls into graft's
  * public functions. Everything it measures goes to a JSON-lines file that
  * `perfbench/run.py` reduces to the result line.
  *
  *   Main --workload ingest|headline --seed N --seconds S --trace 0|1
  *        --work DIR --out FILE
  *
  * After the workload's set-up, unit operations run until `seconds` have
  * passed and at least the workload's minimum count is done. With
  * `--trace 1` the [[Trace]] listener is attached before the first one. */
object Main {
  val Cores = 4

  final class Failed(msg: String) extends RuntimeException(msg)
  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new Failed(msg)

  type Hash = (Long, java.math.BigDecimal)

  /** Span and counter recording for the timed calls of one unit op. */
  final class Recorder(out: JsonLines, t0Nanos: Long, t0EpochMs: Long) {
    var op = -1
    var traced = false
    /** Set during set-up: calls run untimed and record nothing. */
    var quiet = false
    var attempted = 0L
    var failed = 0L
    var callSeconds = 0.0
    var callCpuSeconds = 0.0
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def epochMs(n: Long): Double = t0EpochMs + (n - t0Nanos) / 1e6

    /** Times one call into graft; `layer` is the module its jobs are charged
      * to when none of their call-site frames is a program frame. */
    def call[T](name: String, layer: String)(body: => T): T = if (quiet) body else {
      attempted += 1
      val cpu = os.getProcessCpuTime
      val a = System.nanoTime()
      val r = body
      val b = System.nanoTime()
      callSeconds += (b - a) / 1e9
      callCpuSeconds += (os.getProcessCpuTime - cpu) / 1e9
      out.obj("span", "op" -> op, "name" -> name, "layer" -> layer,
        "start" -> epochMs(a), "end" -> epochMs(b), "wall_s" -> (b - a) / 1e9,
        "traced" -> traced)
      r
    }

    /** Times one step of the set-up (recorded even while quiet). */
    def setupStep[T](name: String)(body: => T): T = {
      val a = System.nanoTime()
      val r = body
      out.obj("setup", "name" -> name, "wall_s" -> (System.nanoTime() - a) / 1e9)
      r
    }

    def counter(name: String, value: Double): Unit = if (!quiet)
      out.obj("counter", "op" -> op, "name" -> name, "value" -> value, "traced" -> traced)
  }

  trait Workload {
    /** Unit operations a run makes at least. */
    def minOps: Int
    /** Makes the inputs and warms whatever the unit operations reuse. */
    def setup(rec: Recorder): Unit
    /** One unit operation: timed calls through `rec`, then the checks. */
    def op(rec: Recorder): Unit
    def sizes: Map[String, Any]
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Order-independent content hash of a frame: (rows, sum of row hashes).
    * Maps hash through their sorted entries (Spark refuses to hash maps). */
  def hashFrame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(array_sort(map_entries(col(f.name))))
        case ArrayType(_: MapType, _) => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
  }

  /** Runs a [[hashFrame]] through its own QueryExecution (`collect`), so
    * that execution's planning tracker describes this run. */
  def collectHash(h: DataFrame): Hash = {
    val r = h.collect().head
    (r.getLong(0), if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
  }

  def contentHash(df: DataFrame): Hash = collectHash(hashFrame(df))

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val work = a("work")
    val out = new JsonLines(a("out"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val rec = new Recorder(out, System.nanoTime(), System.currentTimeMillis())
    val data = s"$work/data"
    val wl: Workload = a("workload") match {
      case "headline" => new HeadlineWorkload(spark, data, seed)
      case "ingest" => new IngestWorkload(spark, data, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val trace = new Trace
    var error: Option[String] = None
    var measuring = false
    try {
      rec.quiet = true
      wl.setup(rec)
      rec.quiet = false
      if (a("trace") == "1") {
        spark.sparkContext.addSparkListener(trace)
        rec.traced = true
      }
      out.obj("start", "to_first_op_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
      measuring = true
      val t0 = System.nanoTime()
      var i = 0
      while (i < wl.minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
        rec.op = i
        rec.callSeconds = 0.0
        rec.callCpuSeconds = 0.0
        wl.op(rec)
        out.obj("op", "i" -> i, "wall_s" -> rec.callSeconds, "cpu_s" -> rec.callCpuSeconds,
          "traced" -> rec.traced)
        i += 1
      }
    } catch {
      // the loop stops at the first exception or failed check: one failed
      // operation, never a latency sample (a set-up failure counts as one)
      case e: Throwable =>
        error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        if (!measuring) rec.attempted = 1
        rec.failed = 1
        e.printStackTrace()
    }
    try {
      if (rec.traced) { trace.drain(spark); trace.dump(out) }
      out.obj("end", "attempted" -> rec.attempted, "failed" -> rec.failed,
        "error" -> error, "peak_rss_mb" -> peakRssMb(), "sizes" -> wl.sizes,
        "spark" -> spark.version, "jvm" -> System.getProperty("java.vm.version"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L)
    } finally {
      out.close()
      spark.stop()
    }
    if (error.isDefined) sys.exit(3)
  }
}

/** The ten headline entries of the query registry, in rounds over a warm
  * session KG cache. The relational, dedup and vector entries read tables
  * generated from the seed in the schema and at the row counts of the
  * sf0.01 test set, with invented value distributions (see [[Tables]]); the
  * kg_* entries read the registry's own corpus. The timed unit of an entry
  * is its frame plus the content hash of all its columns, collected. Every
  * round must reproduce the warm-up round's row counts and content hashes,
  * and the counts the generator fixes. */
final class HeadlineWorkload(spark: SparkSession, data: String, seed: Long) extends Main.Workload {
  import Main._
  val Entries = Seq("q1_agg", "q2_join_agg", "q6_window_latest", "q13_explode_tokens",
    "q19_running_sum", "d1_dedup_exact", "d3_minhash_lsh", "e1_ann_bruteforce",
    "kg_triples", "kg_step_nhash")
  /** Module each entry's own code lives in: the layer its jobs are charged
    * to when no graft frame is on their call site. */
  val EntryLayer: Map[String, String] = Map(
    "d1_dedup_exact" -> "ops", "d3_minhash_lsh" -> "ops", "e1_ann_bruteforce" -> "ops",
    "kg_triples" -> "pipeline").withDefaultValue("query")
  val minOps = 2
  /** Untimed rounds before the first timed one: the first builds the
    * session KG cache and pins the checks; round times still fall through
    * the third as the JIT settles. */
  val WarmupRounds = 3
  /** The registry builds the kg_* corpus with PageGen's default seed, at a
    * size it reads from the directory name: "sf0.01" selects 4000 pages,
    * "sf0.1" 20000, and a name with no sf tag 500. The 500-page rung is
    * chosen here: the 4000-page KG's cold build in set-up would not fit the
    * run budget beside the relational tables. The path is relative to the
    * working directory, so no sf tag in the checkout's own path can change
    * the rung. */
  val KgPages = 500
  private val dir = java.nio.file.Paths.get("").toAbsolutePath
    .relativize(java.nio.file.Paths.get(data).toAbsolutePath).resolve(s"tables_kg$KgPages").toString
  check(!dir.contains("sf"), s"headline tables path $dir carries an sf tag")
  private var pins: Map[String, Hash] = Map.empty

  def sizes: Map[String, Any] = Map("lineitem" -> Tables.Lineitem, "orders" -> Tables.Orders,
    "events" -> Tables.Events, "documents" -> Tables.Documents,
    "embeddings" -> Tables.Embeddings, "kg_pages" -> KgPages, "kg_seed" -> "PageGen default",
    "warmup_rounds" -> WarmupRounds)

  /** Counts the generator fixes independently of the engine. */
  private val expected: Map[String, Long => Boolean] = Map(
    "q1_agg" -> (_ == 6), "q2_join_agg" -> (_ == 5), "q6_window_latest" -> (_ == Tables.Users),
    "q13_explode_tokens" -> (_ == 20), "q19_running_sum" -> (_ == Tables.Events),
    "d1_dedup_exact" -> (_ == Tables.Documents), "d3_minhash_lsh" -> (_ >= Tables.Documents),
    "e1_ann_bruteforce" -> (_ == 150), "kg_triples" -> (_ > 0), "kg_step_nhash" -> (_ > 0))

  private def round(rec: Recorder): Unit = Entries.foreach { name =>
    val fn = graft.SparkEntry.queries(name)
    def run(): (Double, Hash, Double) = {
      val t = System.nanoTime()
      val df = fn(spark, dir)
      val hf = hashFrame(df)
      val h = collectHash(hf)
      val plan = Seq(df, hf).map(_.queryExecution.tracker.phases.values.map(_.durationMs).sum).sum
      ((System.nanoTime() - t) / 1e9, h, plan / 1e3)
    }
    val (wall, h, plan) = rec.call(s"headline.$name", EntryLayer(name))(run())
    rec.counter(s"headline.$name.plan_s", plan)
    rec.counter(s"headline.$name.exec_s", wall - plan)
    check(expected(name)(h._1), s"$name returned ${h._1} rows")
    pins.get(name) match {
      case None => pins += name -> h
      case Some(p) => check(p == h, s"$name result $h differs from the warm-up round's $p")
    }
  }

  def setup(rec: Recorder): Unit = {
    rec.setupStep("write_tables")(Tables.write(spark, dir, seed))
    (1 to WarmupRounds).foreach(i => rec.setupStep(s"warmup_round_$i")(round(rec)))
  }

  def op(rec: Recorder): Unit = round(rec)
}
