package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.functions.Pages
import graft.lake.LakeTable
import graft.sources.TokenFixture
import graft.tiers.TierCascade
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The rollup engine's benchmark. One JVM runs one workload at
  * `local[min(4, cores)]`, times its operations with tracing off (end-to-end
  * metrics) or on (per-layer metrics), checks every operation's output
  * outside the timed region, and prints one JSON result as its last line.
  * `perfbench/run.py` builds and launches it; `perfbench/README.md` defines
  * the workloads and metrics.
  */
object PerfBench {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, expected: String, traceOut: String, modules: String, spec: String)

  /** What a workload reports: operations attempted and failed, and the values
    * of both metric sets by name (the caller prints the set the run asked
    * for, in `BENCHMARK.json`'s order and units; a declared metric the
    * workload does not measure reads 0).
    */
  final case class Outcome(attempted: Int, failed: Int, e2e: Map[String, Double], layers: Map[String, Double])

  val Tiers = Seq("tier_1m", "tier_1h", "tier_1d", "hist_1m", "hist_1h", "hist_1d", "pages_1h")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val conf = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val declared = declaredMetrics(conf.spec, conf.trace)
    new File(conf.work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${conf.work}/local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(conf.trace, spark.sparkContext, readModules(conf.modules))
    trace.register(spark)
    val heap = new HeapPeak
    val env = Env(spark, conf, trace, heap, cores, jvmStartMs)
    val out = try conf.workload match {
      case "cascade" => Cascade.run(env)
      case "queries" => Queries.run(env)
      case "selftest" => SelfTest.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } finally {
      heap.close()
      trace.unregister(spark)
      spark.stop()
    }
    env.log("stopped")
    if (conf.trace) trace.writeJsonLines(conf.traceOut)
    val measured = if (conf.trace) out.layers else out.e2e
    val undeclared = measured.keySet -- declared.map(_._1)
    require(undeclared.isEmpty, s"metrics not declared in ${conf.spec}: ${undeclared.toSeq.sorted.mkString(", ")}")
    val body = declared.map { case (name, unit) =>
      s"${Trace.json(name)}: {\"value\": ${num(measured.getOrElse(name, 0.0))}, \"unit\": ${Trace.json(unit)}}"
    }
    println(s"""{"correct": ${out.failed == 0}, "attempted": ${out.attempted}, "failed": ${out.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }

  /** (name, unit) of every metric `BENCHMARK.json` declares for the mode. */
  private def declaredMetrics(spec: String, trace: Boolean): Seq[(String, String)] =
    new ObjectMapper().readTree(new File(spec)).get(if (trace) "per_layer" else "end_to_end")
      .elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  /** `<File>.scala<TAB><module>` lines, written by the build from the source tree. */
  private def readModules(path: String): Map[String, String] =
    if (path.isEmpty) Map.empty
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().map(_.split("\t")).collect { case Array(f, m) => f -> m }.toMap
      finally src.close()
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(get("workload"), m.getOrElse("seed", "42").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", get("work"), m.getOrElse("data", ""),
      m.getOrElse("expected", ""), m.getOrElse("trace-out", ""), m.getOrElse("modules", ""), get("spec"))
  }

  final case class Env(spark: SparkSession, conf: Conf, trace: Trace, heap: HeapPeak, cores: Int,
      jvmStartMs: Long) {
    def elapsedS: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    /** Progress on standard error, stamped with the seconds since JVM start. */
    def log(msg: String): Unit = System.err.println(f"perfbench: [$elapsedS%7.2f s] $msg")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f)) finally all.close()
    }
  }

  /** Order-insensitive digest of a frame's rows: (row count, sum of per-row
    * xxhash64). Doubles are rounded to 4 places first, as the oracle SQL
    * rounds them, because the order in which partial aggregates merge moves
    * their last bits; -0.0 is folded into 0.0. Maps become sorted entry
    * arrays, since Spark does not hash maps.
    */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(rowHash(df).as("_h"))
      .agg(count(lit(1)), coalesce(sum(col("_h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** The per-row hash [[digest]] sums, as a decimal so the sum cannot overflow. */
  def rowHash(df: DataFrame): Column = {
    import org.apache.spark.sql.types._
    def needs(t: DataType): Boolean = t match {
      case DoubleType | FloatType | _: MapType => true
      case ArrayType(e, _) => needs(e)
      case StructType(fs) => fs.exists(f => needs(f.dataType))
      case _ => false
    }
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType =>
        val r = round(c.cast(DoubleType), 4)
        when(r === 0.0, lit(0.0)).otherwise(r)
      case ArrayType(e, _) if needs(e) => transform(c, x => canon(x, e))
      case MapType(k, v, _) =>
        val entry = StructType(Seq(StructField("key", k), StructField("value", v)))
        canon(array_sort(map_entries(c)), ArrayType(entry))
      case StructType(fs) if needs(t) =>
        when(c.isNull, lit(null)).otherwise(
          struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
    xxhash64(df.schema.fields.toIndexedSeq.map(f => canon(df.col(s"`${f.name}`"), f.dataType)): _*)
      .cast("decimal(38,0)")
  }

  /** Spark-layer per-layer metrics over the jobs started by the timed
    * operations, per operation.
    */
  def sparkLayers(env: Env, timedOps: Set[Int], wallS: Double, units: Int,
      persistedLeft: Double): Map[String, Double] = {
    val t = env.trace
    val jobs = t.jobs.values.asScala.toSeq.filter(j => timedOps(t.opOfSpan(j.span)))
    val jobIds = jobs.map(_.id).toSet
    val sums = Trace.TaskFields.indices.map(i =>
      jobs.flatMap(j => Option(t.taskSums.get(j.id))).map(_(i)).sum)
    val f = Trace.TaskFields.zip(sums).toMap
    val stages = t.stages.values.asScala.toSeq.filter(s => jobIds(s.job))
    // wall with no job running: the timed walls minus the union of job intervals
    val intervals = jobs.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)).sortBy(_._1)
    var busyMs = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    intervals.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) busyMs += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
    }
    if (ce > cs) busyMs += ce - cs
    val u = units.toDouble
    Map(
      "sources.files_listed" -> t.counters.getOrElse("files_listed", 0.0) / u,
      "sources.scan_rows" -> f("scan_rows") / u,
      "sources.scan_bytes" -> f("scan_bytes") / u,
      "spark.jobs" -> jobs.size / u,
      "spark.stages" -> stages.size / u,
      "spark.tasks" -> f("tasks") / u,
      "spark.task_s" -> f("task_s") / u,
      "spark.task_cpu_s" -> f("task_cpu_s") / u,
      "spark.gc_s" -> f("gc_s") / u,
      "spark.busy_frac" -> (if (wallS > 0) f("task_s") / (env.cores * wallS) else 0.0),
      "spark.no_job_s" -> math.max(0.0, wallS - busyMs / 1e3) / u,
      "spark.shuffle_write_bytes" -> f("shuffle_write_bytes") / u,
      "spark.shuffle_read_bytes" -> f("shuffle_read_bytes") / u,
      "spark.spill_bytes" -> f("spill_bytes") / u,
      "spark.failed_tasks" -> f("failed_tasks") / u,
      "spark.persisted_left" -> persistedLeft / u,
      "tiers.fused_agg_s" -> stages.filter(_.name.contains("TierCascade.scala"))
        .map(s => (s.endMs - s.submitMs) / 1e3).sum / u)
  }

  /** Persisted RDDs plus cached plans present right now. The cache
    * manager's entry count is package-private in Scala but public in the
    * bytecode, hence the reflective call.
    */
  def persistedNow(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.sparkContext.getPersistentRDDs.size +
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  def filesListed: Long = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
}

/** `cascade`: one `TierCascade.run` per operation, into a fresh lake, over a
  * raw token table generated from the seed.
  */
object Cascade {
  import PerfBench._

  /** Ids generated per run; 1/17 are dropped as gaps. */
  val InputIds = 300000L

  /** The raw token table (input_hint shape) with the fixture properties of
    * `graft.Bench`: 8 sources with ~80% of rows on 2, 1/17 of ids dropped as
    * gaps, `n_tok` in [16, 64). Every random choice is keyed by `seed`.
    */
  def tokenTable(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val tokens = udf { (id: Long, k: Int) =>
      var x = id * -7046029254386353131L + seed
      Array.fill(k) {
        x += -7046029254386353131L
        var z = x
        z = (z ^ (z >>> 30)) * -4658895280553007687L
        z = (z ^ (z >>> 27)) * -7723592293110705685L
        z ^= z >>> 31
        java.lang.Math.floorMod(z, 50257L).toInt
      }
    }
    val src = pmod(xxhash64(col("id"), lit(seed + 2)), _: Column)
    spark.range(n)
      .filter(pmod(xxhash64(col("id"), lit(seed + 4)), lit(17L)) =!= 0)
      .select(
        format_string("doc-%012d", col("id")).as("doc_id"),
        tokens(col("id"), (lit(16) + pmod(xxhash64(col("id"), lit(seed + 1)), lit(48L))).cast("int")).as("tokens"),
        (lit(16) + pmod(xxhash64(col("id"), lit(seed + 1)), lit(48L))).cast("int").as("n_tok"),
        concat(lit("src"), when(pmod(xxhash64(col("id"), lit(seed)), lit(10L)) < 8, src(lit(2L)))
          .otherwise(src(lit(8L)))).as("source"))
  }

  private def cascadeCall(spark: SparkSession, raw: String, lake: String): Seq[TierCascade.TierResult] = {
    val obs = TokenFixture.deriveObs(spark.read.parquet(raw)).select("series", "ts", "seq", "value")
    TierCascade.run(spark, obs, lake, seriesBuckets = 8, salts = 1,
      withHistograms = true, withPages = true)
  }

  final case class Manifest(tier: String, bytes: Long, files: Long, wallMs: Long)

  /** Every committed manifest of the lake, read on the driver through the
    * lake's own committed-partition listing.
    */
  private def manifests(env: Env, lake: String): Seq[Manifest] =
    env.trace.span("lake.committed_partitions") {
      def field(json: String, k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toLong).getOrElse(throw new IllegalStateException(s"manifest without $k: $json"))
      Tiers.flatMap { tier =>
        val table = new LakeTable(env.spark, lake, tier, "pk")
        table.committedPartitions().toSeq.sorted.map { p =>
          val j = table.manifestJson(p).getOrElse(throw new IllegalStateException(s"$tier/$p vanished"))
          Manifest(tier, field(j, "bytes"), field(j, "n_files"), field(j, "wall_ms"))
        }
      }
    }

  /** Figures of one lake from a single collect: the 1d tier's Σcnt and
    * Σsum_v, the decoded page census (points, all round-trips ok) and the
    * page stats (page bytes, points).
    */
  private def lakeFigures(env: Env, lake: String): Map[String, (Double, Double)] = {
    def read(tier: String) = new LakeTable(env.spark, lake, tier, "pk").read()
    def row(name: String, df: DataFrame, a: Column, b: Column) =
      df.agg(lit(name).as("name"), a.cast("double").as("a"), b.cast("double").as("b"))
    val pages = read("pages_1h")
    val oneDay = row("tier_1d", read("tier_1d"), sum(col("cnt")), sum(col("sum_v")))
    val census = row("census", Pages.pageCensus(pages), sum(col("n_points")), min(col("roundtrip_ok").cast("int")))
    val stats = env.trace.span("compress.page_stats") {
      row("stats", Pages.pageStats(pages), sum(col("page_bytes")), sum(col("n_points")))
    }
    Seq(oneDay, census, stats).reduce(_ union _).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    val w = env.conf.work
    val t = env.trace
    val raw = s"$w/raw"
    env.log("session started")
    tokenTable(spark, InputIds, env.conf.seed).write.mode("overwrite").parquet(raw)
    env.log("input generated")
    // input check (rows, Σn_tok), repeated: setup_s counts the median of the repeats
    val inputChecks = (1 to 3).map { _ =>
      timeS(spark.read.parquet(raw).agg(count(lit(1)), sum(col("n_tok"))).head())
    }
    val (inRows, inTok) = (inputChecks.head._1.getLong(0), inputChecks.head._1.getLong(1))
    require(inRows > 0 && inputChecks.forall(_._1 == inputChecks.head._1), "input check disagrees with itself")
    val checkWalls = inputChecks.map(_._2)
    // a full-size warm call: after a smaller one the first timed call runs
    // 10-20% slower than the next, while code and heap finish warming
    t.span("warm") { cascadeCall(spark, raw, s"$w/warm-lake") }
    deleteTree(s"$w/warm-lake")
    val setupS = env.elapsedS - checkWalls.sum + median(checkWalls)
    env.log(f"set up in $setupS%.2f s ($inRows sequences)")

    val ops = Seq.newBuilder[Map[String, Double]]
    var timedOps = Set.empty[Int]
    var attempted, failed = 0
    var persistedLeft = 0.0
    var timedWall = 0.0
    var lastOk = true
    var listed = 0L
    // at least two calls and --seconds of them; a failed call ends the loop
    // once two were made, so a broken engine still yields a result
    while (attempted < 2 || (lastOk && timedWall < env.conf.seconds)) {
      val lake = s"$w/lake-op$attempted"
      attempted += 1
      t.nextOp()
      timedOps += t.currentOp
      // every call starts from the same collected heap, so the after-GC
      // peaks of different runs are comparable
      System.gc()
      env.heap.armed = true
      val listed0 = filesListed
      val (result, wall) = timeS {
        try Right(t.span("tiers.run")(cascadeCall(spark, raw, lake)))
        catch { case NonFatal(e) => Left(e) }
      }
      timedWall += wall
      listed += filesListed - listed0
      env.heap.armed = false
      if (t.enabled) persistedLeft += persistedNow(spark)
      // checks, outside the timed region
      val checked = result match {
        case Left(e) =>
          System.err.println(s"operation failed: $e")
          None
        case Right(_) =>
          try {
            val (c, checkS) = timeS(check(env, lake, inRows, inTok))
            env.log(f"operation $attempted took $wall%.3f s, checked in $checkS%.2f s")
            c.map(_ + ("wall" -> wall))
          } catch { case NonFatal(e) => System.err.println(s"check failed: $e"); None }
      }
      checked.foreach(ops += _)
      if (checked.isEmpty) failed += 1
      lastOk = checked.nonEmpty
      deleteTree(lake)
    }
    t.counters("files_listed") = listed.toDouble
    t.drain()
    val done = ops.result()
    val n = math.max(1, done.size)
    def mean(k: String) = done.map(_(k)).sum / n
    val writeS = Tiers.map(tier => tier -> t.writes.asScala.toSeq
      .filter(wr => wr.path.contains("/lake-op") && wr.path.contains(s"/$tier/_staging_"))
      .map(_.durationNs / 1e9).sum / n).toMap
    val layers = sparkLayers(env, timedOps, timedWall, n, persistedLeft) ++
      Tiers.map(tier => s"lake.write.${tier}_s" -> writeS(tier)) ++ Map(
      "lake.commit_s" -> (mean("append_s") - writeS.values.sum),
      "lake.partitions_committed" -> mean("committed"),
      "lake.files_written" -> mean("files"),
      "lake.bytes_written" -> mean("bytes"),
      "lake.bytes_per_seq" -> mean("bytes") / inRows,
      "compress.page_bytes_per_point" -> mean("page_bytes_per_point"),
      "trace.op_s" -> median(done.map(_("wall"))))
    val e2e = Map(
      "setup_s" -> setupS,
      "op_s" -> median(done.map(_("wall"))),
      "step_geomean_s" -> median(done.map(_("step_geomean_s"))),
      "heap_live_peak_mb" -> env.heap.peakMb,
      "ok_ops_frac" -> (attempted - failed).toDouble / attempted)
    Outcome(attempted, failed, e2e, layers)
  }

  /** Checks one operation's lake; on success returns its layer figures. */
  private def check(env: Env, lake: String, inRows: Long, inTok: Long): Option[Map[String, Double]] = {
    val man = manifests(env, lake)
    val fig = lakeFigures(env, lake)
    val checks = Seq(
      "1d count = input rows" -> (fig("tier_1d")._1 == inRows.toDouble),
      "1d sum = sum of n_tok" -> (fig("tier_1d")._2 == inTok.toDouble),
      "page points = input rows" -> (fig("census")._1 == inRows.toDouble),
      "pages round-trip" -> (fig("census")._2 == 1.0),
      "every tier committed" -> (man.map(_.tier).toSet == Tiers.toSet))
    checks.filterNot(_._2).foreach(c => System.err.println(s"check failed: ${c._1}"))
    if (!checks.forall(_._2)) None
    else {
      // a tier's append wall is the wall_ms of the last manifest it committed
      val appendS = man.groupBy(_.tier).values.map(_.map(_.wallMs).max / 1e3).toSeq
      Some(Map(
        "step_geomean_s" -> geomean(appendS),
        "append_s" -> appendS.sum,
        "committed" -> man.size.toDouble,
        "files" -> man.map(_.files).sum.toDouble,
        "bytes" -> man.map(_.bytes).sum.toDouble,
        "page_bytes_per_point" -> fig("stats")._1 / fig("stats")._2))
    }
  }
}

/** `queries`: a fixed sample of the catalog in sorted order, one pass per
  * operation, each query built and then run through the noop sink.
  */
object Queries {
  import PerfBench._

  type Query = (SparkSession, String) => DataFrame

  /** Every twelfth catalog query in sorted order (q01, q13, …, q73): passes
    * over all 83 do not fit the benchmark's time budget, and a fixed stride
    * samples the query families without choosing by speed.
    */
  def sample: Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1).grouped(12).map(_.head).toSeq

  /** Checks the input tables against their recorded SHA-256 sums. */
  private def checkInput(dir: String): Unit = {
    val sums = scala.io.Source.fromFile(s"$dir/SHA256SUMS", "UTF-8")
    val want = try sums.getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      val Array(h, f) = l.split("\\s+", 2); f.stripPrefix("*") -> h
    }.toMap finally sums.close()
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    require(files.nonEmpty && files.map(_.getName).toSet == want.keySet, s"input tables in $dir differ from SHA256SUMS")
    files.foreach { f =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(Files.readAllBytes(f.toPath))
      val got = md.digest().map("%02x".format(_)).mkString
      require(got == want(f.getName), s"${f.getName}: sha256 $got, recorded ${want(f.getName)}")
    }
  }

  private def readExpected(path: String): Map[String, (Long, BigDecimal)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, rows, h) = l.split("\t")
      n -> (rows.toLong, BigDecimal(h))
    }.toMap finally src.close()
  }

  def run(env: Env): Outcome = runCatalog(env, sample, readExpected(env.conf.expected))

  def runCatalog(env: Env, catalog: Seq[(String, Query)],
      expected: Map[String, (Long, BigDecimal)]): Outcome = {
    val spark = env.spark
    val t = env.trace
    val data = env.conf.data
    val sorted = catalog.sortBy(_._1)
    val checkWalls = (1 to 3).map(_ => timeS(checkInput(data))._2)
    // warm pass, untimed: each query's row count and digest against the record
    val bad = sorted.filter { case (name, q) =>
      val got = try Some(digest(q(spark, data))) catch {
        case NonFatal(e) => System.err.println(s"$name failed: $e"); None
      }
      if (got.nonEmpty && got != expected.get(name))
        System.err.println(s"$name: output ${got.get} differs from recorded ${expected.get(name)}")
      got.isEmpty || got != expected.get(name)
    }.map(_._1).toSet
    val setupS = env.elapsedS - checkWalls.sum + median(checkWalls)
    env.log(f"set up in $setupS%.2f s")

    val walls = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val passWalls = Seq.newBuilder[Double]
    var timedOps = Set.empty[Int]
    var attempted, failed, passes = 0
    var persistedLeft = 0.0
    var timedWall = 0.0
    var lastPassTimed = true
    val filesListed0 = filesListed
    // at least one pass and --seconds of them; a pass that times no query
    // ends the loop, so a run in which every query fails still yields a result
    while (passes < 1 || (lastPassTimed && timedWall < env.conf.seconds)) {
      passes += 1
      System.gc()
      var passWall = 0.0
      sorted.foreach { case (name, q) =>
        attempted += 1
        t.nextOp()
        timedOps += t.currentOp
        if (bad(name)) failed += 1
        else {
          env.heap.armed = true
          val (ok, wall) = timeS {
            try {
              t.span(s"query.$name") {
                val df = t.span("queries.build")(q(spark, data))
                t.span("queries.exec")(df.write.mode("overwrite").format("noop").save())
              }
              true
            } catch { case NonFatal(e) => System.err.println(s"$name failed: $e"); false }
            finally env.heap.armed = false
          }
          timedWall += wall
          if (ok) {
            walls(name) :+= wall
            passWall += wall
          } else failed += 1
          if (t.enabled) persistedLeft += persistedNow(spark)
        }
      }
      passWalls += passWall
      lastPassTimed = passWall > 0
      env.log(f"pass $passes took $passWall%.3f s")
    }
    t.counters("files_listed") = (filesListed - filesListed0).toDouble
    t.drain()
    val perQuery = sorted.map(_._1).filter(walls.contains).map(n => n -> median(walls(n)))
    val eager = t.jobs.values.asScala.toSeq
      .filter(j => timedOps(t.opOfSpan(j.span)) && t.spanName(j.span).contains("queries.build"))
    val opS = median(passWalls.result().filter(_ > 0))
    val layers = sparkLayers(env, timedOps, timedWall, passes, persistedLeft) ++ Map(
      "trace.op_s" -> opS,
      "queries.build_s" -> t.durations("queries.build", timedOps).sum / passes,
      "queries.eager_jobs" -> eager.size.toDouble / passes,
      "queries.eager_job_s" -> eager.map(j => (j.endMs - j.startMs) / 1e3).sum / passes,
      "queries.exec_s" -> t.durations("queries.exec", timedOps).sum / passes) ++
      perQuery.map { case (n, s) => s"queries.${n}_s" -> s }
    val e2e = Map(
      "setup_s" -> setupS,
      "op_s" -> opS,
      "step_geomean_s" -> geomean(perQuery.map(_._2)),
      "heap_live_peak_mb" -> env.heap.peakMb,
      "ok_ops_frac" -> (attempted - failed).toDouble / attempted)
    Outcome(attempted, failed, e2e, layers)
  }
}

/** Checks the harness itself on small synthetic catalogs: a query that
  * throws while being built, one that throws only once timed, one whose
  * output is mutated, one that leaves a persisted frame behind, and a
  * catalog in which every query fails. `attempted` counts the assertions and
  * `failed` the ones that did not hold.
  */
object SelfTest {
  import PerfBench._

  def run(env: Env): Outcome = {
    require(env.trace.enabled, "the self-test needs --trace 1")
    val good: Queries.Query = (s, _) => s.range(100).selectExpr("id", "id * 0.5 AS v")
    val throws: Queries.Query = (_, _) => throw new IllegalStateException("deliberately broken")
    val mutated: Queries.Query = (s, d) => good(s, d).selectExpr("id", "IF(id = 7, 99.0, v) AS v")
    var calls = 0
    val catalog: Seq[(String, Queries.Query)] = Seq(
      "s1_ok" -> good,
      "s2_throws_in_build" -> throws,
      "s3_throws_once_timed" -> { (s, d) =>
        calls += 1
        if (calls == 1) good(s, d) else s.range(10).selectExpr("raise_error('deliberately broken')")
      },
      "s4_mutated" -> mutated,
      "s5_leaks_a_persist" -> { (s, d) => val df = good(s, d).persist(); df.count(); df })
    val want = digest(good(env.spark, ""))
    val out = Queries.runCatalog(env, catalog, catalog.map(_._1 -> want).toMap)
    val layer = out.layers
    val broken = Seq("f1_throws_in_build" -> throws, "f2_mutated" -> mutated)
    val allFail = Queries.runCatalog(env, broken, broken.map(_._1 -> want).toMap)
    val asserts = Seq(
      "throwing and mutated queries count as failed" -> (out.failed == 3 * (out.attempted / catalog.size)),
      "failed queries carry no time" -> Seq("s2_throws_in_build", "s3_throws_once_timed", "s4_mutated")
        .forall(n => !layer.contains(s"queries.${n}_s")),
      "passing queries are timed" -> Seq("s1_ok", "s5_leaks_a_persist").forall(n => layer(s"queries.${n}_s") > 0),
      "a persist left behind shows" -> (layer("spark.persisted_left") >= 1.0),
      "a run in which every query fails ends, all failed" ->
        (allFail.attempted == broken.size && allFail.failed == allFail.attempted &&
          allFail.e2e("ok_ops_frac") == 0.0 && allFail.e2e("op_s") == 0.0))
    asserts.foreach { case (what, ok) => System.err.println(s"selftest ${if (ok) "ok  " else "FAIL"} $what") }
    Outcome(asserts.size, asserts.count(!_._2), Map.empty, Map.empty)
  }
}
