package graft.tiers

import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The continuous-aggregate cascade: raw observations → 1m → 1h → 1d tier
  * tables, each materialized in the lake layer with per-partition manifests so
  * any rerun resumes from the last committed partition (north_rule;
  * SURVEY.md §7.2/§7.3).
  *
  * Partition key = "seriesBucket-day": bucketed series-hash × time, per the
  * north rule's partitioning clause. Each tier reads only the committed
  * partitions of the previous tier, so a torn write never propagates.
  */
object TierCascade {

  final case class TierResult(name: String, table: LakeTable, newPartitions: Seq[String])

  def partKey(seriesBuckets: Int): org.apache.spark.sql.Column =
    concat(
      pmod(xxhash64(col("series")), lit(seriesBuckets.toLong)).cast("string"),
      lit("-"),
      date_format(to_utc_timestamp(timestamp_seconds(col("bucket")), "UTC"), "yyyyMMdd"))

  /** Run the full cascade. `obs` must provide (series, ts, seq, value).
    * @param salts >1 enables the two-phase salted rollup for hot series.
    * @param withHistograms also materialize cumulative-bucket histogram tiers
    *        (1m from raw, 1h/1d by element-wise bucket merge) — the vertex
    *        Histogram rollup (north_star "histogram/summary rollups").
    * @param withPages also materialize Gorilla delta-of-delta+XOR binary
    *        pages per (series, hour), resumable like every other tier.
    *
    * Schedule. The chains — sum tiers (raw→1m→1h→1d), histogram tiers
    * (raw→hist_1m→1h→1d) and Gorilla pages (raw→pages_1h) — have no data
    * dependencies on each other, so each runs on its own pool thread
    * (Spark schedules jobs from several threads on one session) and their
    * commit phases overlap. Within a chain each tier reads only the previous
    * tier's committed partitions.
    *
    * The sum and histogram 1m tiers group by the same (series, bucket-60s)
    * key, so when both are requested on the unsalted path ONE fused
    * aggregate produces both. It is persisted and counted on the calling
    * thread before the two chains that read it are submitted, so they read
    * the cache instead of racing to recompute it. The pages chain never
    * reads it and is submitted first: the fused aggregate is the cascade's
    * one serial stage, and the independent pages scan+shuffle overlaps it
    * (BENCH.md round 5). Results come back as sum ++ histogram ++ pages.
    *
    * A failure anywhere cancels the chains that have not started and waits
    * for those that have, then the fused cache is released; the first
    * failure propagates as the chain's own exception, not the pool's
    * ExecutionException wrapper.
    */
  def run(
      spark: SparkSession,
      obs: DataFrame,
      basePath: String,
      seriesBuckets: Int = 8,
      salts: Int = 1,
      withHistograms: Boolean = false,
      withPages: Boolean = false): Seq[TierResult] = {
    def append(table: LakeTable, df: DataFrame, lineage: String): Seq[String] =
      table.append(df.withColumn("pk", partKey(seriesBuckets)), lineage = lineage)

    def sumChain(fused1m: Option[DataFrame]): Seq[TierResult] = {
      val t1m = fused1m.map(TierRollup.tierColumns).getOrElse(
        if (salts > 1) TierRollup.fromObsSalted(obs, 60L, salts)
        else TierRollup.fromObs(obs, 60L))
      val lake1m = new LakeTable(spark, basePath, "tier_1m", "pk")
      val new1m = append(lake1m, t1m, "raw->1m rollup bucket=60s")
      val lake1h = new LakeTable(spark, basePath, "tier_1h", "pk")
      val new1h = append(lake1h, TierRollup.mergeTier(lake1m.read().drop("pk"), 3600L),
        "1m->1h mergeTier bucket=3600s")
      val lake1d = new LakeTable(spark, basePath, "tier_1d", "pk")
      val new1d = append(lake1d, TierRollup.mergeTier(lake1h.read().drop("pk"), 86400L),
        "1h->1d mergeTier bucket=86400s")
      Seq(TierResult("1m", lake1m, new1m), TierResult("1h", lake1h, new1h),
        TierResult("1d", lake1d, new1d))
    }

    def histChain(fused1m: Option[DataFrame]): Seq[TierResult] = {
      val ladder = graft.model.Schemas.bucketLadder
      val lakeH1m = new LakeTable(spark, basePath, "hist_1m", "pk")
      val h1m = fused1m.map(TierRollup.histColumns)
        .getOrElse(TierRollup.histogramFromObs(obs, ladder, 60L))
      val newH1m = append(lakeH1m, h1m, "raw->hist_1m cumulative ladder")
      val lakeH1h = new LakeTable(spark, basePath, "hist_1h", "pk")
      val newH1h = append(lakeH1h,
        TierRollup.mergeHistogramTier(lakeH1m.read().drop("pk"), ladder.length, 3600L),
        "hist_1m->hist_1h bucket merge")
      val lakeH1d = new LakeTable(spark, basePath, "hist_1d", "pk")
      val newH1d = append(lakeH1d,
        TierRollup.mergeHistogramTier(lakeH1h.read().drop("pk"), ladder.length, 86400L),
        "hist_1h->hist_1d bucket merge")
      Seq(TierResult("hist_1m", lakeH1m, newH1m), TierResult("hist_1h", lakeH1h, newH1h),
        TierResult("hist_1d", lakeH1d, newH1d))
    }

    def pagesChain(): Seq[TierResult] = {
      val lakeP = new LakeTable(spark, basePath, "pages_1h", "pk")
      val newP = append(lakeP, graft.functions.Pages.pagesFromObs(obs, 3600L),
        "raw->pages_1h gorilla dod+xor")
      Seq(TierResult("pages_1h", lakeP, newP))
    }

    val nChains = 1 + (if (withHistograms) 1 else 0) + (if (withPages) 1 else 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nChains)
    val submitted =
      scala.collection.mutable.Buffer.empty[java.util.concurrent.Future[Seq[TierResult]]]
    def submit(c: () => Seq[TierResult]) = {
      val f = pool.submit(new java.util.concurrent.Callable[Seq[TierResult]] {
        def call(): Seq[TierResult] = c()
      })
      submitted += f
      f
    }
    var fused1m: Option[DataFrame] = None
    try {
      val pagesF = if (withPages) Some(submit(() => pagesChain())) else None
      if (withHistograms && salts == 1) {
        val f = TierRollup.fromObsWithHistogram(
          obs, graft.model.Schemas.bucketLadder, 60L).persist()
        fused1m = Some(f) // before the count, so a failing count is still released
        f.count()
      }
      val fused = fused1m
      val sumF = submit(() => sumChain(fused))
      val histF = if (withHistograms) Some(submit(() => histChain(fused))) else None
      sumF.get() ++ histF.map(_.get()).getOrElse(Nil) ++ pagesF.map(_.get()).getOrElse(Nil)
    } catch {
      case t: Throwable =>
        submitted.foreach(_.cancel(false))
        submitted.foreach(f => try f.get() catch { case _: Throwable => () })
        throw (t match {
          case e: java.util.concurrent.ExecutionException if e.getCause != null => e.getCause
          case _ => t
        })
    } finally {
      pool.shutdown()
      fused1m.foreach(_.unpersist(blocking = false))
    }
  }

  /** Retention sweep: per-tier TTLs (seconds of bucket age vs the tier's
    * high-water mark), enforced as partition-level expire (day granularity —
    * a partition is dropped when its whole day is past TTL).
    */
  def retention(results: Seq[TierResult], ttls: Map[String, Long]): Map[String, Seq[String]] = {
    results.flatMap { tr =>
      ttls.get(tr.name).map { ttl =>
        val committed = tr.table.committedPartitions()
        if (committed.isEmpty) tr.name -> Seq.empty[String]
        else {
          def dayOf(p: String): Long = {
            val d = p.substring(p.indexOf('-') + 1)
            java.time.LocalDate.parse(d, java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
              .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
          }
          val hwm = committed.map(dayOf).max
          tr.name -> tr.table.expire(p => dayOf(p) + 86400 <= hwm - ttl)
        }
      }
    }.toMap
  }
}
