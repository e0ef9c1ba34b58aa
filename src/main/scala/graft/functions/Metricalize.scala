package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Path-driven metricalize: configurable log→metric extraction with a unified
  * tagged MetricValue row, mirroring
  * /root/reference/src/transforms/metricalize.rs:
  *
  *  - each [[MetricSpec]] is one configured metric: a value path, tag paths,
  *    and a kind (counter / gauge / histogram) — `build_series_and_value`
  *    (metricalize.rs:67-102): tags whose path is missing are omitted, a
  *    missing/unparseable value drops the row (a counted failure), a counter
  *    with `increment_by_value = false` counts 1.0 per event
  *  - the output is ONE metric row shape for every kind (the MetricValue
  *    analog, /root/reference/lib/event/src/metric/mod.rs:24-39): (name,
  *    tags, kind, m_sum, m_count, m_buckets)
  *  - kind-mismatch handling (metricalize.rs:233-248): state is keyed by
  *    (name, tags); when a row's kind differs from the state's, the state
  *    RESETS to the new value and a failure is counted. In batch form, with
  *    rows totally ordered by `ord`, that means: the surviving aggregate
  *    covers only the trailing run of rows whose kind equals the final kind,
  *    and `mismatches` counts the kind transitions — exactly the reference's
  *    per-event behavior replayed in event order.
  *
  * Paths: "$.a.b" addresses the JSON column; "col:name" addresses a top-level
  * column (the LogRecord field analog, lib/event/src/log/mod.rs:208-231).
  *
  * Scale shape: per-spec extraction is a codegen'd projection fanout off one
  * source scan (struct-array explode — never a per-spec re-scan). The
  * kind-replay is CHUNKED over the ord space (the AsOfJoin pattern): the only
  * ordered windows partition by (name, tags-key, ord-chunk), so parallelism is
  * series × chunks even when one hot metric family dominates — a window
  * partitioned by the series alone would make one task sort the whole family
  * (the round-2 straggler shape). SINGLE-PASS (round 4): the data is
  * shuffled once, sorted once, and aggregated in place on the window's own
  * partition keys; the chunk stats ride the replay window as full-frame
  * window columns, and per-kind trailing-run partials let the cross-chunk
  * survivor cut resolve on the tiny series×chunks frame — the round-3 shape
  * re-ran the extraction 2-3× and broadcast-joined the boundary back, and
  * its per-stage serial floors were what capped the bench datapoint's 2→8
  * scaling.
  *
  * Histogram buckets are PER SPEC: internally observations are counted
  * against the union ladder of all specs (one codegen'd sum per rung), and
  * each output row exposes only the rungs of the spec that produced its final
  * kind — so two histogram specs with different ladders don't leak each
  * other's uppers. (Divergence note: if two same-name histogram specs with
  * different ladders write the same series, the reference buckets against the
  * ladder of the spec that created the state; here the FINAL spec's ladder is
  * reported. Same-name same-ladder specs — the common case — are exact.)
  */
object Metricalize {

  /** One configured metric (metricalize.rs MetricConfig). */
  final case class MetricSpec(
      name: String,
      kind: String, // "counter" | "gauge" | "histogram"
      valuePath: String,
      tagPaths: Map[String, String] = Map.empty,
      buckets: Seq[Double] = Nil,
      incrementByValue: Boolean = true) {
    require(Set("counter", "gauge", "histogram")(kind), s"unknown kind $kind")
    require(kind != "histogram" || buckets.nonEmpty, "histogram needs buckets")
  }

  /** The union bucket ladder the internal per-rung counters use; output rows
    * only expose each spec's own rungs (see class doc).
    */
  def unionLadder(specs: Seq[MetricSpec]): Seq[Double] =
    specs.flatMap(_.buckets).distinct.sorted

  /** Shared JSON extraction below the spec fanout: every DISTINCT JSON path
    * across the specs is parsed ONCE per input row in a projection UNDER the
    * explode Generate, and the spec structs reference the aliases. Passing
    * `get_json_object` inline per spec re-parsed the props string once per
    * (spec, path) occurrence — five specs reading `$.k` parsed the same JSON
    * five times per event (measured: over half of q39's wall). A Generate
    * boundary cannot be collapsed, so the single parse is structural, not an
    * optimizer courtesy. `col:` paths stay direct attribute references.
    */
  private def withSharedExtracts(df: DataFrame, propsCol: String,
      specs: Seq[MetricSpec]): (DataFrame, String => Column) = {
    val (base, ext, _) = withSharedExtractsAndKeys(df, propsCol, specs,
      withKeys = false)
    (base, ext)
  }

  /** [[withSharedExtracts]] plus, when `withKeys`, one shared SORTED
    * tag-entry array (`skey`) alias per DISTINCT tagPaths set (round 6,
    * guide §1.2 per-task work): the spec structs previously built a tags
    * MAP per exploded row (`map_filter(map(...))`) that the replay re-sorted
    * per exploded row (`array_sort(map_entries(...))`) — three interpreted
    * higher-order functions per metric row. The skey is equivalent and
    * codegen-only: tag keys are compile-time literals, so the entries are
    * emitted in sorted-key order statically, and the null-tag cut
    * (map_filter's predicate) is a per-entry conditional concat. Shared
    * aliases sit in the same under-Generate projection as the JSON
    * extracts, so each distinct tag set is computed once per INPUT row, not
    * once per (spec, row).
    */
  private def withSharedExtractsAndKeys(df: DataFrame, propsCol: String,
      specs: Seq[MetricSpec], withKeys: Boolean)
      : (DataFrame, String => Column, Seq[(String, String)] => Column) = {
    val jsonPaths = specs.flatMap(sp => sp.valuePath +: sp.tagPaths.values.toSeq)
      .filterNot(_.startsWith("col:")).distinct
    // helper-column prefix checked against the input schema: a user frame
    // that already carries a `_graft_jx*` column must not collide with (or
    // be shadowed by) the appended extraction aliases
    val prefix = Iterator.from(0).map {
      case 0 => "_graft_jx"
      case n => s"_graft_jx$n$n"
    }.find(p => !df.columns.exists(_.startsWith(p))).get
    val alias = jsonPaths.zipWithIndex.map { case (p, i) => p -> s"$prefix$i" }.toMap
    val ext: String => Column = p =>
      if (p.startsWith("col:")) col(p.stripPrefix("col:")).cast("string")
      else col(alias(p))
    val base1 =
      if (jsonPaths.isEmpty) df
      else df.select(col("*") +: jsonPaths.map(p =>
        get_json_object(col(propsCol), p).as(alias(p))): _*)
    val entryType = "array<struct<key:string,value:string>>"
    def skeyExpr(ts: Seq[(String, String)]): Column =
      if (ts.isEmpty) array().cast(entryType)
      else concat(ts.map { case (k, p) =>
        val v = ext(p)
        when(v.isNotNull, array(struct(lit(k).as("key"), v.as("value"))))
          .otherwise(array().cast(entryType))
      }: _*)
    // key order must be UTF8String BINARY order — what the replaced
    // array_sort(map_entries(...)) produced; Scala's default String sort is
    // UTF-16 lexicographic, which diverges for supplementary-plane keys
    def binarySorted(ts: Seq[(String, String)]): Seq[(String, String)] =
      ts.sortWith { case ((a, _), (b, _)) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      }
    val tagSets: Seq[Seq[(String, String)]] =
      if (withKeys) specs.map(sp => binarySorted(sp.tagPaths.toSeq)).distinct else Nil
    val skAlias = tagSets.zipWithIndex.map { case (ts, i) => ts -> s"${prefix}_sk$i" }.toMap
    val base =
      if (tagSets.isEmpty) base1
      else base1.select(col("*") +: tagSets.map(ts =>
        skeyExpr(ts).as(skAlias(ts))): _*)
    (base, ext, ts => col(skAlias(binarySorted(ts))))
  }

  /** Per-spec extraction structs off ONE scan: name, skey (sorted tag
    * entries — the series key), kind id, v, packed ord, spec index. Kinds
    * travel as INTEGER ids (index into the static distinct-kind list) so
    * every downstream aggregation buffer is a mutable primitive and the
    * whole replay stays HashAggregate — string min_by/max_by buffers would
    * demote the aggregations to SortAggregate. The skey rides the struct
    * directly (round 6): it references the shared per-distinct-tag-set
    * alias [[withSharedExtractsAndKeys]] computes once per INPUT row, so no
    * per-exploded-row map building or re-sorting remains. The packed ord
    * (event ord × #specs + spec position) replays one event's specs in
    * config order; packing is guarded against Long overflow (the tier layer
    * guards its packed ranges the same way, TierRollup.fromObs).
    */
  private def specStructs(extract: String => Column, specs: Seq[MetricSpec], ordCol: Column,
      kinds: Seq[String], skeyOf: Seq[(String, String)] => Column): Seq[Column] = {
    val maxOrd = Long.MaxValue / specs.length
    val ordL = ordCol.cast("long")
    specs.zipWithIndex.map { case (sp, i) =>
      val raw = extract(sp.valuePath)
      val v =
        if (sp.kind == "counter" && !sp.incrementByValue)
          when(raw.isNotNull, lit(1.0)).otherwise(lit(null).cast("double"))
        else raw.cast("double")
      val packed = when(ordL >= 0L && ordL < maxOrd, ordL * specs.length + i)
        .otherwise(raise_error(concat(
          lit(s"metricalize ord out of packed range [0, $maxOrd): "),
          ordL.cast("string"))).cast("long"))
      struct(
        lit(sp.name).as("name"),
        skeyOf(sp.tagPaths.toSeq).as("skey"),
        lit(kinds.indexOf(sp.kind)).as("kind"),
        v.as("v"),
        packed.as("ord"),
        lit(i).as("sidx"))
    }
  }

  /** Kind id → kind string (static CASE over the distinct-kind list). */
  private def kindStr(kinds: Seq[String], id: Column): Column =
    kinds.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (k, i)) =>
      when(id === i, lit(k)).otherwise(acc)
    }

  /** m_buckets for the FINAL spec (`_fidx`): select that spec's rungs out of
    * the union-ladder counter array `_hb`.
    */
  private def perSpecBuckets(specs: Seq[MetricSpec], ladder: Seq[Double]): Column = {
    val posOf = ladder.zipWithIndex.toMap
    specs.zipWithIndex.foldLeft(array().cast("array<bigint>")) {
      case (acc, (sp, i)) =>
        if (sp.kind != "histogram") acc
        else when(col("_fidx") === i,
          array(sp.buckets.sorted.map(b => col("_hb")(posOf(b))): _*)).otherwise(acc)
    }
  }

  /** Rows → unified metric rows. `ordCol` is the event's position in the
    * stream-order replay (unique per input row, non-negative).
    *
    * Output: (name, tags, kind, m_sum, m_count, m_buckets, mismatches) — one
    * row per (name, tags) series; m_buckets is the final spec's cumulative
    * le-ladder for histograms, empty otherwise.
    *
    * @param numChunks ord-space chunk count — the series × chunks parallelism
    *                  knob for the kind-replay windows
    * @param ordBounds optional caller-supplied [lo, hi] of the RAW `ordCol`
    *                  domain (pre-packing): skips the blocking min/max reduce
    *                  (the AsOfJoin.tsBounds escape) — worth it when the
    *                  caller already knows the ord window, e.g. a
    *                  partition-pruned replay. Rows outside the bounds clamp
    *                  into the first/last chunk (correctness preserved,
    *                  parallelism of the clamped tail degrades).
    */
  def metricalize(
      df: DataFrame,
      propsCol: String,
      specs: Seq[MetricSpec],
      ordCol: Column,
      numChunks: Int = 64,
      ordBounds: Option[(Long, Long)] = None): DataFrame = {
    require(specs.nonEmpty, "at least one MetricSpec")
    require(numChunks >= 1, "numChunks must be >= 1")
    val ladder = unionLadder(specs)
    val kinds = specs.map(_.kind).distinct.sorted

    val (base, ext, skeyOf) = withSharedExtractsAndKeys(df, propsCol, specs,
      withKeys = true)
    // series key rides the struct as the SORTED tag-entry array (maps aren't
    // groupable; arrays are, both as hash keys and as shuffle keys) —
    // injective with no escaping, and the tags map rebuilds from it at the
    // end, so no map-typed first() aggregate survives to demote the hash
    // aggregation
    val keyed = base
      .select(explode(array(specStructs(ext, specs, ordCol, kinds, skeyOf): _*)).as("_m"))
      .select(col("_m.name").as("name"), col("_m.skey").as("skey"),
        col("_m.kind").as("kind"), col("_m.v").as("v"), col("_m.ord").as("ord"),
        col("_m.sidx").as("sidx"))
      .filter(col("v").isNotNull) // missing value = dropped row (counted failure)

    // ---- kind-replay, chunked over the ord space ----
    // chunk width from the RAW ord span unless the caller supplied bounds —
    // packed bounds follow from the packing (rawLo*n+0 .. rawHi*n+(n-1)).
    // The round-5 shape reduced min/max over the POST-extraction frame,
    // which re-ran the whole JSON-extract + explode pipeline as a separate
    // blocking job just for two longs (a measured ~25% of q39's wall); the
    // raw ordCol min/max is a narrow column-pruned scan of the source and
    // its span is a superset of the surviving rows' — chunk boundaries may
    // shift, which only redistributes replay parallelism, never results
    // (the replay is chunking-invariant; MetricalizeSpec pins it across
    // chunk counts). Caller bounds may be a subset, so the chunk id clamps
    // into [0, maxChunk].
    val Array(lo, hi) = ordBounds match {
      case Some((l, h)) =>
        require(h >= l, s"ordBounds [$l, $h] inverted")
        Array(l * specs.length, h * specs.length + (specs.length - 1))
      case None =>
        val r = df.agg(min(ordCol.cast("long")), max(ordCol.cast("long"))).head()
        if (r.isNullAt(0)) Array(0L, 0L)
        else Array(r.getLong(0) * specs.length,
          r.getLong(1) * specs.length + (specs.length - 1))
    }
    val chunkW = math.max(1L, (hi - lo) / numChunks + 1)
    val chunked = keyed.withColumn("_chunk",
      greatest(lit(0L), least(lit((hi - lo) / chunkW),
        floor((col("ord") - lo) / chunkW).cast("long"))))

    // (a) the ONLY data-sized pass (round-4 single-pass rewrite; the round-3
    // shape made 2-3 passes over the extraction plus a broadcast join, and
    // the per-stage serial floors were what capped the bench datapoint's
    // 2→8 scaling): ONE shuffle hash-partitioned by (series, chunk), ONE
    // sort, and one Window node that carries BOTH the lag (within-chunk
    // transitions) and the full-frame chunk stats (first/last kind, per-kind
    // boundary candidates) — then an IN-PLACE hash aggregation grouped on
    // the window's own partition keys, so EnsureRequirements inserts no
    // second data exchange. The chunk aggregates include, per statically-
    // known kind k, the chunk's TRAILING-RUN partials w.r.t. k (rows after
    // the chunk's last non-k row): the cross-chunk boundary always lands on
    // some chunk's trailing run, so the global survivor cut resolves later
    // on the tiny frame with no second pass over the data.
    val wc = Window.partitionBy(col("name"), col("skey"), col("_chunk")).orderBy(col("ord"))
    val wcFull = wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val marked = chunked
      .withColumn("_prev_kind", lag(col("kind"), 1).over(wc))
      .withColumn("_mismatch",
        when(col("_prev_kind").isNotNull && col("kind") =!= col("_prev_kind"), 1L)
          .otherwise(0L))
      .withColumn("_first_kind", first(col("kind")).over(wcFull))
      .withColumn("_last_kind_c", last(col("kind")).over(wcFull))
      .withColumns(kinds.indices.map(k =>
        s"_bnot_$k" -> max(when(col("kind") =!= k, col("ord"))).over(wcFull)).toMap)

    val histK = kinds.indexOf("histogram")
    // rows in this chunk's trailing run w.r.t. kind k: everything after the
    // chunk's last non-k row (the whole chunk when no non-k row exists)
    def tailOf(k: Int): Column = col(s"_bnot_$k").isNull || col("ord") > col(s"_bnot_$k")
    val chunkAggs: Seq[Column] = Seq(
      first(col("_first_kind")).as("_first_kind"),
      first(col("_last_kind_c")).as("_last_kind_c"),
      sum(col("_mismatch")).as("_mm"),
      max(col("ord")).as("_c_max_ord"),
      max_by(col("sidx"), col("ord")).as("_c_sidx"),
      sum(col("v")).as("_full_sum"),
      count(lit(1)).as("_full_cnt"),
      // the chunk's last row by ord — the global gauge survivor is always
      // the max-ord chunk's last row (it sits after any boundary)
      max_by(col("v"), col("ord")).as("_full_last")) ++
      kinds.indices.map(k => first(col(s"_bnot_$k")).as(s"_bnot_$k")) ++
      kinds.indices.flatMap(k => Seq(
        sum(when(tailOf(k), col("v"))).as(s"_tail_sum_$k"),
        sum(when(tailOf(k), 1L).otherwise(0L)).as(s"_tail_cnt_$k"))) ++
      ladder.zipWithIndex.flatMap { case (b, i) =>
        sum(when(col("v") <= b, 1L).otherwise(0L)).as(s"_full_hb_$i") +:
          (if (histK >= 0)
            Seq(sum(when(tailOf(histK) && col("v") <= b, 1L).otherwise(0L)).as(s"_tail_hb_$i"))
          else Nil)
      }
    val perChunk = marked
      .groupBy(col("name"), col("skey"), col("_chunk"))
      .agg(chunkAggs.head, chunkAggs.tail: _*)

    // (b) TINY series×chunks frame: global last kind, cross-chunk
    // transitions, the global boundary (max ord with kind != last kind,
    // selected from the per-kind candidates) and ITS chunk — as window
    // columns, so the survivor cut per chunk is decidable row-locally:
    // chunks past the boundary chunk contribute their full partials, the
    // boundary chunk contributes its trailing-run partials w.r.t. the global
    // last kind (the boundary IS that chunk's last non-last-kind row), and
    // earlier chunks contribute nothing. Chunk ranges partition the ord
    // space into intervals (the clamp keeps the first/last chunks
    // half-open), so the chunk order IS the ord order.
    val wSeries = Window.partitionBy(col("name"), col("skey")).orderBy(col("_chunk"))
    val wSeriesFull = wSeries.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def forLast(of: Int => Column): Column =
      kinds.indices.foldLeft(lit(null).cast("long")) { (acc, k) =>
        when(col("_last_kind") === k, of(k)).otherwise(acc)
      }
    val bnotForLast = forLast(k => col(s"_bnot_$k"))
    val annotated = perChunk
      .withColumn("_last_kind", last(col("_last_kind_c")).over(wSeriesFull))
      .withColumn("_prev_last", lag(col("_last_kind_c"), 1).over(wSeries))
      .withColumn("_boundary", max(bnotForLast).over(wSeriesFull))
      .withColumn("_cb", max_by(col("_chunk"), bnotForLast).over(wSeriesFull))
    val fullyAfter = col("_boundary").isNull || col("_chunk") > col("_cb")
    val atBoundary = col("_boundary").isNotNull && col("_chunk") === col("_cb")
    def contrib(full: Column, tail: Column): Column =
      when(fullyAfter, full).when(atBoundary, tail)
    val cSum = contrib(col("_full_sum"),
      forLast(k => col(s"_tail_sum_$k")).cast("double"))
    val cCnt = coalesce(contrib(col("_full_cnt"), forLast(k => col(s"_tail_cnt_$k"))), lit(0L))
    annotated
      .groupBy(col("name"), col("skey"))
      .agg(
        first(col("_last_kind")).as("_kind"),
        (sum(col("_mm")) +
          sum(when(col("_prev_last").isNotNull && col("_prev_last") =!= col("_first_kind"), 1L)
            .otherwise(0L))).as("mismatches"),
        max_by(col("_c_sidx"), col("_c_max_ord")).as("_fidx"),
        sum(cSum).as("_sum"),
        sum(cCnt).as("m_count"),
        max_by(col("_full_last"), col("_c_max_ord")).as("_last"),
        (if (ladder.isEmpty) array().cast("array<bigint>")
         else array(ladder.indices.map(i =>
           coalesce(sum(contrib(col(s"_full_hb_$i"),
             if (histK >= 0) col(s"_tail_hb_$i") else lit(null).cast("long"))), lit(0L))): _*))
          .as("_hb"))
      .select(
        col("name"),
        map_from_entries(col("skey")).as("tags"),
        kindStr(kinds, col("_kind")).as("kind"),
        when(col("_kind") === kinds.indexOf("gauge"), col("_last"))
          .otherwise(col("_sum")).as("m_sum"),
        col("m_count"),
        when(col("_kind") === kinds.indexOf("histogram"), perSpecBuckets(specs, ladder))
          .otherwise(array().cast("array<bigint>")).as("m_buckets"),
        col("mismatches"))
  }

  /** Typed carriers for [[metricalizeStreamReplay]] (object-level so the
    * product encoders resolve).
    */
  case class MzTagKV(key: String, value: String)
  case class MzReplayIn(ts: java.sql.Timestamp, bucket: Long, name: String,
      skey: Seq[MzTagKV], kind: Int, v: Double, ord: Long, sidx: Int)
  case class MzReplayKey(bucket: Long, name: String, skey: Seq[MzTagKV])
  case class MzReplayState(kind: Int, sum: Double, cnt: Long, last: Double,
      hb: Seq[Long], mm: Long, sidx: Int)
  case class MzReplayOut(bucket: Long, name: String, tags: Map[String, String],
      kind: String, m_sum: Double, m_count: Long, m_buckets: Seq[Long],
      mismatches: Long)

  /** Streaming metricalize: the reference flushes its state map on a
    * processing-time tick (metricalize.rs:161-190); here the flush is an
    * EVENT-TIME tumbling window + watermark, so emission is deterministic
    * and replayable. It keeps the BATCH arrival-order reset semantics — the
    * flatMapGroupsWithState form of [[metricalize]]'s kind-replay:
    * per (window, name, tags) series the state carries (kind, partials);
    * a kind flip INSIDE the window increments `mismatches` and resets the
    * partials, so the emitted row covers exactly the trailing same-kind run
    * — bit-identical to the batch replay of the same rows. State crosses
    * micro-batches; each window's state starts empty (the tick analog) and
    * is emitted once, when the event-time timeout fires at window close.
    *
    * Replay order is (micro-batch arrival, ord within the batch) — the
    * stream analog of the reference's arrival order. A source that delivers
    * ord-monotone batches (any replayed log) reproduces the batch result
    * exactly; cross-batch ord inversions replay in arrival order, like the
    * reference itself would.
    */
  def metricalizeStreamReplay(
      df: DataFrame,
      propsCol: String,
      specs: Seq[MetricSpec],
      tsCol: String,
      bucketSec: Long,
      ordCol: Column,
      watermark: String = "10 minutes"): DataFrame = {
    require(specs.nonEmpty, "at least one MetricSpec")
    val ladder = unionLadder(specs)
    val kinds = specs.map(_.kind).distinct.sorted
    val histK = kinds.indexOf("histogram")
    // final spec's rung positions in the union ladder, resolved statically
    val specRungs: Seq[Seq[Int]] = specs.map(sp =>
      if (sp.kind == "histogram") sp.buckets.sorted.map(ladder.indexOf) else Nil)
    val nLadder = ladder.size
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

    val (base, ext, skeyOf) = withSharedExtractsAndKeys(df, propsCol, specs,
      withKeys = true)
    val prepared = base
      .withColumn("_ts", col(tsCol))
      .withWatermark("_ts", watermark)
      .select(col("_ts"),
        explode(array(specStructs(ext, specs, ordCol, kinds, skeyOf): _*)).as("_m"))
      .select(
        col("_ts").as("ts"),
        (floor(unix_timestamp(col("_ts")) / bucketSec) * bucketSec)
          .cast("long").as("bucket"),
        col("_m.name").as("name"),
        col("_m.skey").as("skey"),
        col("_m.kind").as("kind"), col("_m.v").as("v"),
        col("_m.ord").as("ord"), col("_m.sidx").as("sidx"))
      .filter(col("v").isNotNull)
      .as[MzReplayIn]

    prepared
      .groupByKey(e => MzReplayKey(e.bucket, e.name, e.skey))
      .flatMapGroupsWithState[MzReplayState, MzReplayOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, it, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            val kindName = kinds(s.kind)
            val buckets: Seq[Long] =
              if (histK >= 0 && s.kind == histK) specRungs(s.sidx).map(s.hb)
              else Nil
            Iterator.single(MzReplayOut(key.bucket, key.name,
              key.skey.map(kv => kv.key -> kv.value).toMap, kindName,
              if (kindName == "gauge") s.last else s.sum, s.cnt, buckets, s.mm))
          } else {
            val evs = it.toArray.sortBy(_.ord)
            val st = state.getOption.getOrElse(
              MzReplayState(-1, 0.0, 0L, 0.0, Seq.fill(nLadder)(0L), 0L, -1))
            var kind = st.kind; var sum = st.sum; var cnt = st.cnt
            var last = st.last; var mm = st.mm; var sidx = st.sidx
            val hb = st.hb.toArray
            evs.foreach { e =>
              if (kind >= 0 && e.kind != kind) { // the arrival-order reset
                mm += 1; sum = 0.0; cnt = 0L; last = 0.0
                java.util.Arrays.fill(hb, 0L)
              }
              kind = e.kind
              sum += e.v; cnt += 1; last = e.v; sidx = e.sidx
              var i = 0
              while (i < nLadder) { if (e.v <= ladder(i)) hb(i) += 1; i += 1 }
            }
            state.update(MzReplayState(kind, sum, cnt, last,
              scala.collection.immutable.ArraySeq.unsafeWrapArray(hb), mm, sidx))
            state.setTimeoutTimestamp((key.bucket + bucketSec) * 1000)
            Iterator.empty
          }
      }.toDF()
  }

  /** Per-spec count of rows whose value extraction failed (the
    * `metricalize_failed_total` counter, metricalize.rs:210-215). ONE source
    * scan for all specs (struct-array explode), like [[metricalize]] itself —
    * a per-spec union would re-scan the source once per spec.
    */
  def extractionFailures(df: DataFrame, propsCol: String, specs: Seq[MetricSpec]): DataFrame = {
    val (base, ext) = withSharedExtracts(df, propsCol, specs)
    val structs = specs.map { sp =>
      val raw = ext(sp.valuePath)
      val v = if (sp.kind == "counter" && !sp.incrementByValue) raw else raw.cast("double")
      struct(lit(sp.name).as("name"), when(v.isNull, 1L).otherwise(0L).as("f"))
    }
    base.select(explode(array(structs: _*)).as("_m"))
      .groupBy(col("_m.name").as("name"))
      .agg(sum(col("_m.f")).as("failures"))
  }
}
