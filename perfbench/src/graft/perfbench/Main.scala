package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** The repository benchmark. One process runs one workload (or all four in
  * turn) on `local[nproc]` with `spark.sql.shuffle.partitions = nproc`,
  * pipeline concurrency nproc and embedded in-memory Derby, checks every
  * output, and prints one JSON result as its last stdout line.
  *
  *   --workload migrate_jdbc|migrate_files|catalog_ddl|query_suite|all
  *   --seed N --seconds S --trace 0|1 [--smoke]
  *
  * A run builds the inputs (untimed), then sets up once — a new
  * SparkSession plus the first pass on it, in this fresh JVM, the cold start
  * every `graft.Migrate` invocation pays — and reports it as `setup_s`. It
  * then runs `seconds / nominal pass cost` passes (at least 4): the first
  * ones (half on query_suite, none elsewhere) warm the JIT up, the figures
  * are the mean over the rest. With
  * `--trace 1` half of those steady passes run traced (spans around every
  * public call plus a SparkListener), and the per-layer figures are printed
  * instead of the end-to-end ones.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, smoke: Boolean = false)

  /** Paths relative to the repository root, the working directory. */
  val work: Path = Paths.get(".bench_build/work")
  val programRoot: Path = Paths.get("src/main/scala")
  val benchRoot: Path = Paths.get("perfbench/src")
  val expectedFile: Path = Paths.get("perfbench/expected.json")
  val cpus: Int = Runtime.getRuntime.availableProcessors

  val workloads = Seq("migrate_jdbc", "migrate_files", "catalog_ddl", "query_suite")

  /** A cross-section of `SparkEntry.queries` that fits the run budget:
    * `graft.Bench` headline queries over `operators` (q01 aggregate) and
    * `ops` (q37 cosine top-k), and q91_global_deciles for the `GlobalOrder`
    * RDD round trip. Together they generate 60 classes, a working set
    * clearly inside Spark's default codegen cache of 100 entries, which the
    * program's sessions use; larger sets (73, 87 classes) flipped between
    * runs of all cache hits and runs that recompile classes on every pass
    * (NOTES.md, finding 6). */
  val suiteQueries: Seq[String] = Seq("q01_pricing_summary", "q37_cosine_topk",
    "q91_global_deciles")
  val smokeQueries: Seq[String] = Seq("q01_pricing_summary", "q91_global_deciles")

  /** Input sizes (corpus scale factors, TESTDATA.md row counts × sf). */
  final case class Sizes(jdbcSf: Double, filesSf: Double, mix: CatalogDdl.Mix,
                         queries: Seq[String])
  val full = Sizes(jdbcSf = 0.01, filesSf = 0.03, mix = CatalogDdl.reference,
    queries = suiteQueries)
  val smoke = Sizes(jdbcSf = 0.001, filesSf = 0.001, mix = CatalogDdl.smoke,
    queries = smokeQueries)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--smoke" :: t => parse(t, o.copy(smoke = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  def session(o: Opts, wl: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cpus}]")
      .appName(s"perfbench-$wl")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .config("graft.scratch.dir", work.resolve("scratch").toAbsolutePath.toString)
    // graft.Bench's scan split size, for the query workload it mirrors
    if (wl == "query_suite") b.config("spark.sql.files.maxPartitionBytes", String.valueOf(4L << 20))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  /** Runs a pass and adds to its figures the number of classes Spark
    * compiled during it, i.e. its misses in the generated-code cache. */
  def codegen(pass: => PassResult): PassResult = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val r = pass
    r.copy(figures = r.figures + ("codegen.compiles" -> (compiles.getCount - before).toDouble))
  }

  def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally status.close()
  }

  // ------------------------------------------------------------ expected

  /** Expected query results, and per workload the known failures: op name
    * to the signature its failure detail carries. */
  final case class Expected(queries: Map[String, (Long, Long)],
                            knownFailures: Map[String, Map[String, String]])

  def loadExpected(p: Path): Expected = {
    val json = new String(Files.readAllBytes(p), "UTF-8")
    import com.fasterxml.jackson.databind.ObjectMapper
    val root = new ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    val qs = root.path("query_suite").path("queries").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)
    }.toMap
    val known = root.path("known_failures").fields().asScala.filter(_.getValue.isObject).map { e =>
      e.getKey -> e.getValue.fields().asScala.map(f => f.getKey -> f.getValue.path("signature").asText).toMap
    }.toMap
    Expected(qs, known)
  }

  // ------------------------------------------------------------- run one

  final case class Outcome(name: String, correct: Boolean, attempted: Long, failed: Long,
                           metrics: Seq[(String, Double, String)])

  def make(name: String, o: Opts, sz: Sizes, exp: Expected): Workload = name match {
    case "migrate_jdbc" => new MigrateJdbc(o.seed, sz.jdbcSf, cpus)
    case "migrate_files" => new MigrateFiles(o.seed, sz.filesSf, work, cpus)
    case "catalog_ddl" => new CatalogDdl(o.seed, sz.mix)
    case "query_suite" => new QuerySuite(sz.queries, work, exp.queries)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${workloads.mkString(", ")}, all)")
  }

  def runOne(name: String, o: Opts, exp: Expected): Outcome = {
    val sz = if (o.smoke) smoke else full
    val wl = make(name, o, sz, exp)
    val known = exp.knownFailures.getOrElse(name, Map.empty)
    val passes = ArrayBuffer[PassResult]()
    val unexpected = ArrayBuffer[String]()
    def record(r: PassResult): PassResult = {
      passes += r
      r.ops.filterNot(_.ok).foreach { op =>
        // known only when it fails the known way: its detail carries the
        // failure's signature from expected.json
        val tag = if (known.get(op.op).exists(op.detail.contains(_))) "known" else "UNEXPECTED"
        if (tag == "UNEXPECTED") unexpected += op.op
        System.err.println(s"[perfbench] $name failed op ${op.op} ($tag): ${op.detail.take(400)}")
      }
      r
    }

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $name $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // the set-up is the session start plus the first pass on it, the cold
    // path of a fresh JVM; the inputs are built (untimed) between the two
    var spark: SparkSession = null
    try {
      // every pass starts on a collected heap (untimed), as the one
      // pipeline of a fresh graft.Migrate JVM does, so no pass pays for the
      // garbage of the one before it (a catalog_ddl pass drops a whole
      // Derby database and its generated classes)
      def collected(pass: => PassResult): PassResult = { System.gc(); record(codegen(pass)) }
      def untraced(): PassResult = collected(wl.pass(spark, None))
      val setup = {
        val (s, start) = Workloads.timed(session(o, name))
        spark = s
        wl.prepare(spark)
        phase("inputs built")
        val secs = start + untraced().wall
        phase(f"set-up took $secs%.2f s")
        secs
      }
      // a fixed number of passes, sized from --seconds and the workload's
      // nominal pass cost: every run stops at the same point of the JIT
      // warm-up curve, however fast the machine is at that moment. The
      // first passes, a workload's warmupShare of them, warm the JIT up
      // (timed and checked, not in the figures); the rest are the steady
      // passes, whose mean the figures are.
      val n = math.max(4, math.round(o.seconds / wl.nominalPassSeconds).toInt)
      val warm = math.round(n * wl.warmupShare).toInt
      val warmup = (1 to warm).map(_ => untraced())
      val steady = ArrayBuffer[PassResult]()
      val traced = ArrayBuffer[PassResult]()
      val layers = if (o.trace) Some(new Layers(o, spark)) else None
      layers match {
        case None => (1 to n - warm).foreach(_ => steady += untraced())
        case Some(l) =>
          // untraced and traced passes alternate in U T T U order, so the JIT
          // warm-up that continues through the run does not pass for
          // tracing overhead
          (1 to math.max(2, (n - warm + 1) / 2)).foreach { i =>
            if (i % 2 == 1) steady += untraced()
            traced += collected(l.tracedPass(wl))
            if (i % 2 == 0) steady += untraced()
          }
      }

      val metrics = ArrayBuffer[(String, Double, String)]()
      val wall = mean(steady.map(_.wall).toSeq)
      val itemsPerS = steady.map(_.items).sum / steady.map(_.wall).sum
      layers match {
        case None =>
        metrics += (("wall_s", wall, "s"))
        metrics += (("items_per_s", itemsPerS, "items/s"))
        metrics += (("setup_s", setup, "s"))
        case Some(layers) =>
        layers.write(work.resolve("traces"), s"$name-seed${o.seed}")
        metrics ++= layers.metrics(steady.toSeq, traced.toSeq)
        val tracedWall = mean(traced.map(_.wall).toSeq)
        metrics += (("trace.untraced_wall_s", wall, "s"))
        metrics += (("trace.traced_wall_s", tracedWall, "s"))
        metrics += (("trace.overhead_pct", 100.0 * (tracedWall / wall - 1.0), "%"))
        metrics += (("setup.cold_first_s", setup, "s"))
        metrics += (("jvm.peak_rss_mb", peakRssMb(), "MB"))
      }

      // human summary: every end-to-end figure, including those that only
      // exist for some workloads
      val all = passes.flatMap(_.ops)
      val failed = all.count(!_.ok)
      val stats = steady.toSeq
      val summary = Seq(
        f"wall_s=$wall%.4f", f"setup_s=$setup%.4f",
        f"${wl.itemUnit}_per_s=$itemsPerS%.1f",
        f"fail_ratio=${failed.toDouble / all.size}%.4f ($failed/${all.size})",
        f"peak_rss_mb=${peakRssMb()}%.1f") ++
        (if (name == "query_suite")
          Seq(f"query_geomean_s=${median(stats.map(_.figures("query_geomean_s")))}%.4f")
        else Nil) ++ Seq(s"warmup=${warmup.map(p => f"${p.wall}%.2f").mkString(",")}",
          s"passes=${stats.map(p => f"${p.wall}%.2f").mkString(",")}",
          s"compiles=${passes.map(_.figures("codegen.compiles").toLong).mkString(",")}")
      phase("done")
      println(s"[perfbench] $name ${summary.mkString(" ")}")

      Outcome(name, unexpected.isEmpty && all.nonEmpty, all.size, failed, metrics.toSeq)
    } finally {
      if (spark != null) stop(spark)
      wl.close()
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.workload.nonEmpty, "missing --workload")
    require(Files.isDirectory(programRoot.resolve("graft")),
      s"program sources not found under $programRoot")
    val exp = loadExpected(expectedFile)
    Files.createDirectories(work)
    val names = if (o.workload == "all") workloads else Seq(o.workload)
    names.foreach(n => if (!workloads.contains(n)) make(n, o, full, exp))
    val outs = names.map(runOne(_, o, exp))
    val metrics =
      if (outs.size == 1) outs.head.metrics
      else outs.flatMap(r => r.metrics.map { case (k, v, u) => (s"${r.name}.$k", v, u) })
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${outs.forall(_.correct)}, "attempted": ${outs.map(_.attempted).sum}, """ +
      s""""failed": ${outs.map(_.failed).sum}, "metrics": {${m.mkString(", ")}}}""")
  }
}
