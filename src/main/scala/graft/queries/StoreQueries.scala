package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.catalog.GraftCatalog
import graft.store.UpsertTable
import graft.streaming.{IngestJob, JsonField, Topic}

/** Store + catalog queries under the correctness gate (VERDICT r1 #4):
  * materialize the events changelog into an [[UpsertTable]] through
  * the CDC-merge path, then read it back **through `spark.sql` over
  * the [[GraftCatalog]]** — putting C1/C2 store semantics and S7/Q-f
  * SQL addressability under the DuckDB oracle, not just unit tests.
  */
object StoreQueries {

  val CatalogName = "graft_sql"

  // per-process suffix: parallel verify runs each get their own
  // warehouse instead of colliding in a shared tmpdir (VERDICT r2)
  private def warehouse: String = {
    val wh = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-sql-warehouse-${ProcessHandle.current().pid()}")
    Files.createDirectories(wh)
    wh.toString
  }

  private def ensureCatalog(s: SparkSession): Unit = {
    s.conf.set(s"spark.sql.catalog.$CatalogName", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$CatalogName.warehouse", warehouse)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.Fs.deleteRecursively(p)

  /** q378's pinned initial centroids over the (cents, hour·4000)
    * plane — (id, cx, cy), interpolated into BOTH engines so the
    * Lloyd step's assignment arithmetic is shared, never re-derived.
    */
  private val KmeansC0: Seq[(Int, Long, Long)] = Seq(
    (0, 10000L, 20000L), (1, 30000L, 60000L),
    (2, 70000L, 30000L), (3, 90000L, 80000L))

  /** Start a streaming query under a temporary shuffle-partition count
    * (stateful streams at test data sizes are dominated by per-
    * partition state-store commit overhead; results are identical —
    * at 100 TB this is sized UP with the cluster instead). Safe
    * because a streaming query clones and freezes its session conf
    * synchronously inside `start()`; the restore happens right after.
    */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(
      start: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try start finally s.conf.set(key, prev)
  }

  /** Shared scaffold for the complete-mode streamed-aggregation gates
    * (q44/q94/q98): produce the selected event columns to a topic in 2
    * part files, stream them back with maxFilesPerTrigger=1 (forcing 2
    * micro-batches so aggregation STATE carries across batches), apply
    * `agg` to the parsed stream (which has the schema's columns plus
    * `t`, the µs event-time timestamp), write each complete-mode
    * emission over the previous one, and read back the final emission.
    * Callers order the result.
    */
  private def streamedEventAgg(s: SparkSession, d: String, tag: String,
      selectCols: Seq[String], schemaDdl: String)(
      agg: DataFrame => DataFrame): DataFrame = {
    val base = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$tag-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
    deleteRecursively(base) // idempotent per run
    val events = Tables.load(s, d, "events")
      .select(selectCols.map(col): _*) // ts: ns epoch
      .repartition(2) // 2 part files -> 2 micro-batches
    Topic.produce(events, s"$base/topic")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val parsed = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
      .select(from_json(col("value"), schema).as("j"))
      .select("j.*")
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
    val q = withShufflePartitions(s, 8) {
      agg(parsed).writeStream
        .outputMode("complete")
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(s"$base/out")
        }
        .start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/out")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q20 — events changelog CDC-merged into the store (event_type
    // 'error' ≙ op 'd', latest-by-(ts, event_id) wins), read back by
    // 3-part name through Spark SQL over the TableCatalog
    "q20_store_sql_roundtrip" -> ((s, d) => {
      ensureCatalog(s)
      val tableName = "events_latest_" + math.abs(d.hashCode).toString
      val location = Paths.get(warehouse, "cdc", tableName)
      deleteRecursively(location) // idempotent per run
      val changelog = Tables.load(s, d, "events")
        .withColumn("__op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
      UpsertTable(s, location.toString).merge(
        changelog,
        opCol = Some("__op"),
        orderCol = Some("__ord"),
        autoCreateKeys = Seq("user_id"))
      s.sql(s"SELECT user_id, event_id FROM $CatalogName.cdc.$tableName " +
        "ORDER BY user_id")
    }),

    // q37 — S5 end-to-end under the oracle: events produced to a topic
    // in changelog order, ingested by a REAL StreamingQuery
    // (AvailableNow trigger, checkpointed foreachBatch upsert merges),
    // then the materialized store read back — must equal the q5
    // changelog-normalize answer. Closes the gap between the
    // unit-proven streaming path and the driver's DuckDB gate.
    "q37_stream_ingest" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-ingest-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val events = Tables.load(s, d, "events")
        .orderBy(col("ts"), col("event_id"))
        .select("event_id", "user_id", "event_type")
        .coalesce(1) // one part file: arrival order == changelog order
      Topic.produce(events, s"$base/topic")
      val job = IngestJob(
        topicDir = s"$base/topic",
        tablePath = s"$base/table",
        keyField = "user_id",
        fields = Seq(JsonField("user_id", "BIGINT"),
          JsonField("event_id", "BIGINT"), JsonField("event_type", "STRING")),
        checkpointDir = s"$base/cp",
        trigger = Trigger.AvailableNow())
      job.start(s).awaitTermination()
      UpsertTable(s, s"$base/table").read()
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    // q44 — event-time tumbling-window aggregation through a REAL
    // multi-batch StreamingQuery: events split across 2 topic files,
    // maxFilesPerTrigger=1 forces 2 micro-batches, so the daily
    // (window × event_type) counts/sums accumulate in streaming agg
    // STATE across batches (complete mode re-emits the closed set each
    // batch; the last emission is read back). Puts the WindowedStats
    // surface — until now unit-only — under the DuckDB gate.
    "q44_stream_window" -> ((s, d) =>
      streamedEventAgg(s, d, "stream-window",
        Seq("event_id", "ts", "event_type", "value"),
        "event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE") {
        parsed =>
          parsed
            .groupBy(window(col("t"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sv0"))
            .select(unix_micros(col("window.start")).as("w_start"),
              col("event_type"), col("n"), round(col("sv0"), 6).as("sv"))
      }.orderBy("w_start", "event_type")),

    // q94 — SLIDING (hopping) event-time windows through the same
    // multi-batch streaming harness as q44's tumbling twin: each event
    // lands in 3 overlapping (3-day window, 1-day slide) buckets, so
    // the streaming agg state holds ~3× the tumbling row count and
    // every micro-batch updates windows opened by earlier batches.
    // Spark expands the window set scan-side (one row per covering
    // window — a fixed ×3 fan-out, no shuffle amplification beyond the
    // agg exchange itself); state size is bounded by (windows ×
    // event_types), independent of input rows. The oracle replicates
    // the epoch-aligned window arithmetic with a generate_series cross
    // join.
    "q94_stream_sliding" -> ((s, d) =>
      streamedEventAgg(s, d, "stream-sliding",
        Seq("event_id", "ts", "event_type", "value"),
        "event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE") {
        parsed =>
          parsed
            .groupBy(window(col("t"), "3 days", "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("sv0"))
            .select(unix_micros(col("window.start")).as("w_start"),
              col("event_type"), col("n"), round(col("sv0"), 6).as("sv"))
      }.orderBy("w_start", "event_type")),

    // q98 — the NATIVE streaming session-window operator: q92's gap
    // sessions re-computed by a real multi-batch StreamingQuery through
    // `groupBy(session_window(...))` — Spark's built-in merging session
    // state (UpdatingSessions/MergingSessions), not the hand-rolled
    // flatMapGroupsWithState twin (q75). The 2-file split forces
    // sessions to MERGE ACROSS micro-batches: batch 2 events that land
    // inside or adjacent to a batch-1 session must extend/merge it in
    // the state store, and the final complete-mode emission must still
    // hash-match the batch oracle. State is keyed by (user, session) —
    // partition-parallel, bounded by active sessions, exactly the
    // reference's changelog-normalize state shape but with merge.
    "q98_stream_session_native" -> ((s, d) =>
      streamedEventAgg(s, d, "stream-sessnative",
        Seq("event_id", "ts", "user_id", "value"),
        "event_id BIGINT, ts BIGINT, user_id BIGINT, value DOUBLE") {
        parsed =>
          parsed
            .groupBy(session_window(col("t"), "6 hours"), col("user_id"))
            .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sv0"))
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("s_start_us"),
              unix_micros(col("session_window.end")).as("s_end_us"),
              col("n_events"), round(col("sv0"), 6).as("sv"))
      }.orderBy("user_id", "s_start_us")),

    // q102 — the CMS sketch as STREAMING aggregation state: the q95
    // count-min grid accumulated by a real 2-batch StreamingQuery (the
    // custom TypedImperativeAggregate's buffer serializes into the
    // streaming state store between micro-batches and merges with
    // batch 2's partial grids), then probed batch-side against exact
    // per-type counts. Deterministic for the same reason as q95 —
    // cell-wise sums commute across any batch/partition split — so the
    // streamed estimates hash-match the same DuckDB grid rebuild.
    "q102_stream_cms" -> ((s, d) => {
      val sketch = streamedEventAgg(s, d, "stream-cms",
        Seq("event_id", "ts", "event_type"),
        "event_id BIGINT, ts BIGINT, event_type STRING") { parsed =>
        parsed.agg(expr("cms_sketch(event_type, 4, 64)").as("cells"))
      }
      val exact = Tables.load(s, d, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val probe = expr(
        "array_min(transform(sequence(0, 3), j -> element_at(cells, " +
          "cast(j * 64 + cast(conv(substring(md5(concat(" +
          "cast(j as string), ':', event_type)), 1, 8), 16, 10) as bigint) " +
          "% 64 + 1 as int))))")
      exact.crossJoin(broadcast(sketch))
        .withColumn("est", probe)
        .select(col("event_type"), col("n"), col("est"),
          (col("est") >= col("n")).as("never_under"))
        .orderBy("event_type")
    }),

    // q231 — STREAMING PSI DRIFT MONITOR: q223's drift metric as a
    // CONTINUOUS query (the production deployment shape — drift is
    // watched, not batch-audited). The (event_type, bin, side) cell
    // counts accumulate in streaming aggregation state across 2
    // forced micro-batches (complete mode re-emits the closed set;
    // integer cell sums commute across any batch split, the q102
    // argument), and the exact-integer PSI fold runs batch-side on
    // the final emission. Hash-gated against the SAME oracle as q223
    // — the streamed cells must land the identical PSI micros. State
    // is bounded by |types|·20 cells regardless of stream length.
    "q231_stream_psi" -> ((s, d) => {
      val cells = streamedEventAgg(s, d, "stream-psi",
        Seq("event_id", "ts", "event_type", "value"),
        "event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE") {
        parsed =>
          parsed
            .select(col("event_type"),
              (conv(substring(md5(concat(lit("psi:"),
                col("event_id").cast("string"))), 1, 8), 16, 10)
                .cast("long") % 2).as("side"),
              least(greatest(
                expr("cast(round(value * 100) as bigint) div 500"),
                lit(0L)), lit(19L)).as("bin"))
            .groupBy("event_type", "bin")
            .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("a"),
              sum(when(col("side") === 1, 1L).otherwise(0L)).as("b"))
      }
      val totals = cells.groupBy("event_type")
        .agg(sum("a").as("ta"), sum("b").as("tb"))
      cells.join(broadcast(totals), "event_type")
        .where(col("a") > 0 && col("b") > 0)
        .select(col("event_type"),
          (floor(log(col("a").cast("double") * col("tb")) * 1000000)
            .cast("long") -
            floor(log(col("b").cast("double") * col("ta")) * 1000000)
              .cast("long")).as("l"),
          col("a"), col("b"), col("ta"), col("tb"))
        .select(col("event_type"),
          expr("(cast(a as decimal(38,0)) * tb - cast(b as decimal(38,0)) " +
            "* ta) * l div (cast(ta as decimal(38,0)) * tb)")
            .as("term"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_bins"), sum("term").as("psi_micro"))
        .orderBy("event_type")
    }),

    // q281 — STREAMING CUSUM CHANGEPOINT MONITOR: q266 as a
    // CONTINUOUS query — drift is WATCHED in production, not
    // batch-audited (the q231 deployment argument applied to the
    // changepoint family). The (event_type, day) cell sums accumulate
    // in streaming aggregation state across 2 forced micro-batches —
    // integer cell sums commute across ANY batch split, so the
    // streamed cells are exactly the batch cells — and q266's
    // prefix-sum closed form (s_t = P_t − min(0, min_{j<t} P_j), a
    // deterministic function of the completed cell table) folds
    // batch-side on the final emission. Hash-gated against the SAME
    // oracle as q266: the streamed path must land the identical
    // max-excursion and first-alarm day. State is bounded by
    // |types|·|days| cells regardless of stream length (the day
    // domain is the monitoring horizon — production would window it).
    "q281_stream_cusum" -> ((s, d) => {
      val cells = streamedEventAgg(s, d, "stream-cusum",
        Seq("event_id", "ts", "event_type", "value"),
        "event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE") {
        parsed =>
          parsed
            .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
            .agg(sum(expr("cast(round(value * 100) as bigint)")).as("sc"),
              count(lit(1)).as("c"))
      }
      val daily = cells.select(col("event_type"), col("day"),
        expr("sc div c").as("x"))
      val W = org.apache.spark.sql.expressions.Window
      val wOrd = W.partitionBy("event_type").orderBy("day")
      val wAll = W.partitionBy("event_type")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val wCum = wOrd.rowsBetween(W.unboundedPreceding, 0)
      val wPrevMin = wOrd.rowsBetween(W.unboundedPreceding, -1)
      daily
        .withColumn("rk", row_number().over(wOrd).cast("long"))
        .withColumn("nd", count(lit(1)).over(wAll))
        .withColumn("mu0",
          expr("(sum(case when rk <= nd div 2 then x else 0 end) over " +
            "(partition by event_type)) div (nd div 2)"))
        .withColumn("dft", col("x") - col("mu0") - 100L)
        .withColumn("p", sum("dft").over(wCum))
        .withColumn("pmin",
          least(lit(0L), coalesce(min("p").over(wPrevMin), lit(0L))))
        .withColumn("s", greatest(lit(0L), col("p") - col("pmin")))
        .groupBy("event_type")
        .agg(max("nd").as("n_days"), max("mu0").as("mu0_cents"),
          max("s").as("max_cusum_cents"),
          min(when(col("s") > 1500L, col("day"))).as("alarm_day"))
        .orderBy("event_type")
    }),

    // q153 — WATERMARK LATE-DATA DROP (the negative path q44/q87/q90
    // deliberately avoid): a streaming engine's watermark contract is
    // only proven when late data is actually DISCARDED. Batch 1
    // carries the RECENT half of the stream (advancing the watermark
    // near the end of the span); the OLD half then arrives late —
    // every row's day-window end sits far below the watermark, so
    // the aggregation must drop all of it, not fold it into state.
    // Spark's late filter is deliberately CONSERVATIVE: batch N
    // drops against batch N−1's watermark (eviction uses batch N's),
    // so data late by exactly one batch is still accepted — a
    // watermark-refresher batch therefore sits between the recent
    // and old halves, making the old rows late by TWO batches (this
    // two-watermark rule is load-bearing here and probed empirically;
    // remove the refresher and every old row legally survives). Two
    // far-future sentinel batches flush surviving windows through
    // append mode (watermark computed at batch N's end drives
    // emission in batch N+1 — the q87 sentinel rule). The oracle
    // aggregates ONLY the recent half: any late row that leaks into
    // state hash-mismatches. At 100 TB this is the semantics that
    // bounds state: without the drop, day-window state grows with
    // stream lifetime.
    "q153_stream_late_drop" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-late-drop-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000").as("t_us"))
      val bounds = ev.agg(min("t_us"), max("t_us")).head() // 1-row collect
      val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
      val cut = minUs + (maxUs - minUs) / 2
      val hourUs = 3600L * 1000000L
      Topic.produce(ev.where(col("t_us") >= cut).coalesce(1), s"$base/topic")
      // watermark refresher: propagates batch 1's watermark into the
      // LATE-filter slot before the old half arrives
      Topic.produce(Seq((-1L, "sentinel", maxUs))
        .toDF("event_id", "event_type", "t_us"), s"$base/topic")
      Topic.produce(ev.where(col("t_us") < cut).coalesce(1), s"$base/topic")
      Topic.produce(Seq((-1L, "sentinel", maxUs + 48 * hourUs))
        .toDF("event_id", "event_type", "t_us"), s"$base/topic")
      Topic.produce(Seq((-1L, "sentinel", maxUs + 72 * hourUs))
        .toDF("event_id", "event_type", "t_us"), s"$base/topic")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, event_type STRING, t_us BIGINT")
      val agg = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j")).select("j.*")
        .withColumn("t", timestamp_micros(col("t_us")))
        .withWatermark("t", "1 hour")
        .groupBy(window(col("t"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("w_start"),
          col("event_type"), col("n"))
      val q = withShufflePartitions(s, 8) {
        agg.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .where(col("event_type") =!= "sentinel")
        .orderBy("w_start", "event_type")
    }),

    // q152 — JDBC UPSERT SINK (the relational serving tier a pipeline
    // publishes into — Flink's JDBC sink role): each micro-batch is
    // normalized to its per-key latest (max_by partial agg) and
    // conditionally upserted into a REAL database (embedded Derby,
    // the driver the Spark distribution bundles) under a strictly-
    // monotonic (ts, event_id) guard — out-of-order batches and
    // replays can never regress a row (the UpsertTable orderCol
    // contract enforced on the database side). The topic is split
    // into 2 UNORDERED files on purpose: batch 2 routinely carries
    // rows older than batch 1's, so the guard is load-bearing. Read
    // back via spark.read.jdbc, hash-matched against the changelog-
    // normalize oracle. (local[] note: executors share the driver
    // JVM, so jdbc:derby:memory is reachable; on a cluster the url
    // is a real server and nothing else changes.)
    "q152_jdbc_sink" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-jdbc-sink-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val url = s"jdbc:derby:memory:graftsink${math.abs(d.hashCode)};create=true"
      graft.cdc.JdbcUpsert.ensureTable(url, "user_latest")
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartition(2)
      Topic.produce(ev, s"$base/topic")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts BIGINT, user_id BIGINT, cents BIGINT")
      val parsed = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j")).select("j.*")
      val q = withShufflePartitions(s, 8) {
        parsed.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.cdc.JdbcUpsert.applyBatch(url, "user_latest", b)
          }
          .start()
      }
      q.awaitTermination()
      s.read.format("jdbc").option("url", url)
        .option("dbtable", "user_latest").load()
        .select(col("user_id").as("user_id"),
          col("event_id").as("event_id"), col("cents").as("cents"))
        .orderBy("user_id")
    }),

    // q149 — RANGE-PARTITIONED SORTED-SHARD LAYOUT (the
    // pay-the-shuffle-once write for downstream merge/range readers:
    // Iceberg sort orders, ClickHouse ORDER BY, training shards read
    // in key order): repartitionByRange + sortWithinPartitions, then
    // a ONE-PASS per-partition audit (mapPartitions fold — the
    // documented per-partition-imperative exception) proving the
    // layout contract: every shard internally sorted, shard key
    // ranges strictly disjoint, nothing lost. The disjointness check
    // is an unpartitioned window over ≤|shards| rows — bounded by
    // construction, the Rank.scala boundary-probe argument. Rows are
    // hashed via the exact total count + contract booleans (range
    // boundaries themselves are sampling-derived, so they are
    // asserted against each other, not against the oracle — the q21
    // in-band pattern).
    "q149_range_shards" -> ((s, d) => {
      import s.implicits._
      val sharded = Tables.load(s, d, "events")
        .select(col("user_id")).as[Long]
        .repartitionByRange(8, col("user_id"))
        .sortWithinPartitions("user_id")
      val parts = sharded.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var lo = Long.MaxValue; var hi = Long.MinValue
          var cnt = 0L; var sorted = true; var prev = Long.MinValue
          it.foreach { v =>
            if (v < prev) sorted = false
            prev = v
            if (v < lo) lo = v
            if (v > hi) hi = v
            cnt += 1
          }
          Iterator.single(
            (org.apache.spark.TaskContext.getPartitionId(), lo, hi, cnt,
              sorted))
        }
      }.toDF("pid", "lo", "hi", "cnt", "sorted")
      val w = org.apache.spark.sql.expressions.Window.orderBy("pid")
      parts
        .withColumn("next_lo", lead("lo", 1).over(w))
        .agg(sum("cnt").as("n_rows"),
          every(col("sorted")).as("sorted_within"),
          // equal keys never split across range partitions, so
          // strict > is the honest disjointness bound
          every(col("next_lo").isNull || col("next_lo") > col("hi"))
            .as("disjoint"),
          (count(lit(1)) >= 2 && count(lit(1)) <= 8).as("sharded"))
    }),

    // q150 — WATERMARK-BOUNDED STREAMING DEDUP
    // (dropDuplicatesWithinWatermark): q69's exact-replay dedup keeps
    // keys-seen state forever — the honest shape for full replays,
    // but unbounded on an endless stream. This is the production
    // variant: state is evicted once the watermark passes a key's
    // event time, so memory is bounded by the disorder window, not
    // the stream's lifetime. The delay exceeds the data's span here,
    // so the full-replay second micro-batch must still be suppressed
    // ENTIRELY by state carried across batches — same oracle as q69.
    "q150_stream_dedup_ttl" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-dedup-ttl-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select("event_id", "ts", "user_id", "event_type").coalesce(1)
      Topic.produce(ev, s"$base/topic") // original
      Topic.produce(ev, s"$base/topic") // full replay -> 2nd micro-batch
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING")
      val deduped = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j"))
        .select("j.*")
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
        .withWatermark("t", "40 days") // > the 30-day data span
        .dropDuplicatesWithinWatermark("event_id")
        .select("event_id", "user_id", "event_type")
      val q = withShufflePartitions(s, 8) {
        deduped.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_id")
    }),

    // q147 — STREAMED native top-k: q140's bounded `top_k`
    // TypedImperativeAggregate accumulated by a real 2-micro-batch
    // StreamingQuery (the q102 pattern applied to the second custom
    // aggregate) — its k-pair buffer must serialize into the
    // streaming state store after batch 1 and merge with batch 2's
    // partials before the complete-mode emission hash-matches the
    // batch window oracle. Scores are integer cents so the streamed
    // ranking is bit-deterministic across engines.
    "q147_stream_topk" -> ((s, d) =>
      streamedEventAgg(s, d, "stream-topk",
        Seq("event_id", "ts", "event_type", "value"),
        "event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE") {
        parsed =>
          parsed
            .withColumn("cents", round(col("value") * 100).cast("long"))
            .groupBy("event_type")
            .agg(expr("top_k(cents, event_id, 5)").as("tk"))
      }
        .select(col("event_type"), posexplode(col("tk")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("event_id"), col("col.score").as("cents"))
        .orderBy("event_type", "rk")),

    // q100 — ORC at rest (SURVEY.md §2.1 S8's second format, until now
    // claimed-free but ungated): the events table written as ORC,
    // read back through the vectorized ORC reader with the filter
    // pushed to the scan, aggregated, and hash-matched against the
    // same SQL over the parquet original — format round-trip fidelity,
    // not just "the writer didn't crash".
    "q100_orc_roundtrip" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-orc-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      Tables.load(s, d, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(base.toString)
      s.read.orc(base.toString)
        .where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sv"))
        .orderBy("user_id")
    }),

    // q145 — CSV at rest (S8's third format, after parquet and ORC
    // q100), gated on the part CSV is actually hard at: QUOTING. The
    // props column is JSON — every value carries quotes and commas —
    // so a writer/reader asymmetry in quote or escape handling
    // corrupts rows the oracle (which reads the parquet original)
    // immediately catches via the per-user md5-distinct and length
    // sums. The read-back uses an EXPLICIT schema: at 100 TB,
    // inferSchema is a second full scan of the corpus before the
    // first useful byte is processed. Doubles survive the text
    // round-trip exactly (shortest-round-trip formatting both ways).
    "q145_csv_roundtrip" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-csv-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      Tables.load(s, d, "events")
        .select("event_id", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").csv(base.toString)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "value DOUBLE, props STRING")
        .csv(base.toString)
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("sv"),
          sum(length(col("props"))).as("plen"),
          countDistinct(md5(col("props"))).as("n_props"))
        .orderBy("user_id")
    }),

    // q47 — stream-STREAM inner join with an event-time range
    // condition: the q45 interval join computed by two live streams
    // joining against each other's buffered state across micro-batches
    // (each side split into files, maxFilesPerTrigger=1, so matches
    // routinely pair a row from batch N with state from batch M<N).
    // Watermark delay exceeds the data's 30-day span on purpose: the
    // topic files are NOT time-ordered here, so early eviction would
    // drop legitimate matches — at production scale the transport is
    // time-ordered and the delay shrinks to actual disorder. Must
    // hash-match the batch range-join SQL exactly. (The plain
    // append-parquet sink here is the test harness; a replayed batch
    // after a crash would duplicate rows — production streams land in
    // the store's batchId-idempotent merge, the q37 path.)
    "q47_stream_stream_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-join-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      // deterministic 25% user subset: the dual-stream state machinery
      // is identical, the buffered state (and bench cost) is a quarter
      val ev = Tables.load(s, d, "events")
        .where(pmod(col("user_id"), lit(4)) === 0)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("t_us"))
        .repartition(2) // 2 files per topic -> cross-batch matches
      Topic.produce(ev, s"$base/ta")
      Topic.produce(ev, s"$base/tb")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, t_us BIGINT")
      def side(dir: String, uid: String, eid: String, t: String) =
        Topic.stream(s, dir, maxFilesPerTrigger = Some(1))
          .select(from_json(col("value"), schema).as("j"))
          .select(col("j.user_id").as(uid), col("j.event_id").as(eid),
            timestamp_micros(col("j.t_us")).as(t))
      val l = side(s"$base/ta", "ua", "event_a", "t_a")
        .withWatermark("t_a", "40 days")
      val r = side(s"$base/tb", "ub", "event_b", "t_b")
        .withWatermark("t_b", "40 days")
      val joined = l.join(r,
        col("ua") === col("ub")
          && col("t_b") >= col("t_a")
          && col("t_b") < col("t_a") + expr("INTERVAL 12 HOURS")
          && col("event_a") =!= col("event_b"))
        .select("event_a", "event_b")
      // dual-sided join state means 2 state stores per shuffle
      // partition per batch, each committing versioned files
      val q = withShufflePartitions(s, 8) {
        joined.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_a", "event_b")
    }),

    // q50 — stream-STATIC join (the remaining cell of the streaming
    // join matrix next to q47): a live event stream left-joined per
    // micro-batch against a static per-customer order-count dimension.
    // The static side is a batch aggregate re-planned inside each
    // micro-batch — at scale it broadcasts (small dim) or pre-shuffles
    // once; the stream side never blocks on it.
    "q50_stream_static_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-static-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val ev = Tables.load(s, d, "events").select("event_id", "user_id")
        .repartition(2) // 2 files -> 2 micro-batches
      Topic.produce(ev, s"$base/topic")
      val dim = Tables.load(s, d, "orders")
        .groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n_orders"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT")
      val joined = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j"))
        .select("j.*")
        .join(dim, Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$base/out")
        }
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_id")
    }),

    // q139 — STREAMED TEMPORAL JOIN: q128's point-in-time enrichment
    // run by a REAL StreamingQuery — purchases stream through two
    // micro-batches and each batch joins the STATIC versioned
    // dimension (the q127 SCD2 build) on the interval condition, the
    // event-time temporal-table join (`FOR SYSTEM_TIME AS OF f.ts`)
    // Flink runs against a versioned table. Stream-static with an
    // equi key + interval residual plans as a hash join per batch —
    // the dimension is the small side at any fact volume. Appended
    // output must hash-match q128's batch oracle exactly, late-batch
    // rows included (a version table is time-complete, so event-time
    // correctness needs no watermark coordination — documented
    // contrast with the buffered stream-stream case, q47/q87).
    "q139_stream_temporal_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-temporal-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val facts = Tables.load(s, d, "events")
        .where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
        .repartition(2) // 2 files -> 2 micro-batches
      Topic.produce(facts, s"$base/topic")
      val dim = graft.pipeline.Scd2.build(
        Tables.load(s, d, "events")
          .where(col("event_type") === "signup")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("attr")),
        "user_id", "ts", Seq("attr"))
        .select(col("user_id").as("dk"), col("attr"),
          col("valid_from"), col("valid_to"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, ts BIGINT")
      val joined = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j"))
        .select("j.*")
        .join(dim,
          col("user_id") === col("dk") &&
            col("valid_from") <= col("ts") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")),
          "left")
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("attr"), 6).as("attr"))
      val q = joined.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$base/out")
        }
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_id")
    }),

    // q53 — the S6 CDC sink end-to-end under the oracle: events
    // re-serialized as Debezium-style envelopes (op/u|d, source.table
    // routing, lsn/txId ordering, after/before images), pushed through
    // the REAL CdcSink.applyBatch (envelope extraction, dynamic
    // routing, payload schema inference, auto-create, CDC-merge), and
    // the routed `cdc.events_postgres` table read back — must equal
    // the declarative changelog-normalize-with-deletes SQL.
    "q53_cdc_envelope_roundtrip" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cdc-env-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val ev = Tables.load(s, d, "events")
      val image = struct(col("user_id"), col("event_id"), col("event_type"))
      val env = ev.select(to_json(struct(
        when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
          .as("op"),
        struct(lit("events").as("table"), col("ts").as("lsn"),
          col("event_id").as("txId")).as("source"),
        image.as("after"),
        image.as("before"))).as("value"))
      graft.cdc.CdcSink.applyBatch(s, env, base.toString,
        keyColsFor = _ => Seq("user_id"))
      UpsertTable(s, graft.cdc.CdcSink.targetPath(base.toString, "events"))
        .read()
        .select("user_id", "event_id")
        .orderBy("user_id")
    }),

    // q54 — the S2 snapshot-then-tail changelog source under the
    // oracle: pre-cutoff state bulk-loads as the op-`r` snapshot
    // (ordering key below every tail LSN), the post-cutoff events
    // stream in as envelopes through a REAL standing CdcJob query, and
    // the composed result must equal one sequential CDC apply of the
    // whole history — Debezium's startup contract, driver-gated.
    "q54_changelog_source" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cdc-src-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val ev = Tables.load(s, d, "events")
      val cutoffNs = 1705276800000000000L // 2024-01-15T00:00:00Z
      val pre = ev.where(col("ts") < cutoffNs)
      val post = ev.where(col("ts") >= cutoffNs)
      // snapshot = pre-cutoff changelog-normalized state, deletes applied
      val snap = graft.store.ChangelogNormalize.latestByKey(
        pre.withColumn("__ord", struct(col("ts"), col("event_id")))
          .select("user_id", "event_id", "event_type", "__ord"),
        Seq("user_id"), "__ord")
        .where(col("event_type") =!= "error")
      // Topic.produce serializes the row itself (to_json over all
      // columns), so hand it the envelope FIELDS, not pre-serialized
      // JSON — producing a string column would double-wrap it
      val image = struct(col("user_id"), col("event_id"), col("event_type"))
      val env = post.select(
        when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
          .as("op"),
        struct(lit("events").as("table"), col("ts").as("lsn"),
          col("event_id").as("txId")).as("source"),
        image.as("after"), image.as("before"))
      Topic.produce(env.coalesce(1), s"$base/topic")
      val q = graft.cdc.ChangelogSource.start(s,
        snapshots = Map("events" -> snap),
        topicDir = s"$base/topic",
        warehouseDir = s"$base/wh",
        checkpointDir = s"$base/cp",
        keyColsFor = _ => Seq("user_id"),
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
      UpsertTable(s, graft.cdc.CdcSink.targetPath(s"$base/wh", "events"))
        .read()
        .select("user_id", "event_id")
        .orderBy("user_id")
    }),

    // q381 — CROSS-TABLE CONSISTENT CDC READ through a kill-between-
    // tables replay: the sink commits a batch's tables concurrently,
    // each atomically on its own, so a crash mid-batch can leave
    // siblings at different batchIds until restart —
    // readers joining across tables in that window would see a TORN
    // batch. The [[graft.cdc.BatchCursor]] closes it: published only
    // after a batch's LAST table commits, carried forward per table,
    // hard-link atomic. The script drives the full failure cycle:
    // batch 1 lands on two tables through the real applyBatch (cursor
    // 1 published); batch 2 then CRASHES between tables — simulated
    // by merging only acct under (streamId, batchId=2), exactly what
    // the dead sink leaves on disk, with NO cursor; the consistent
    // view read in that window (pinned by localCheckpoint before the
    // replay mutates the stores) must still be batch 1 on BOTH
    // tables; the restart replays batch 2 in full (acct no-ops on the
    // batchId guard, prof catches up, cursor 2 publishes) and the
    // consistent view becomes batch 2 everywhere. The ORACLE computes
    // both epochs closed-form from events — any torn read, wrong
    // cursor carry-forward, or replay double-apply diverges.
    "q381_consistent_cdc_read" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cdc-cons-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val wh = s"$base/wh"
      val sid = Some(s"$base/sid")
      val su = Tables.load(s, d, "events")
        .where(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(max(expr("cast(round(value * 100) as bigint)")).as("cents"))
      def env(table: String, rows: DataFrame, image: Column,
          op: Column): DataFrame =
        rows.select(to_json(struct(
          op.as("op"),
          struct(lit(table).as("table"), col("user_id").as("lsn"),
            col("user_id").as("txId")).as("source"),
          image.as("after"), image.as("before"))).as("value"))
      val acctImg = struct(col("user_id"), col("cents"))
      val profImg1 = struct(col("user_id"), (col("user_id") % 100).as("score"))
      graft.cdc.CdcSink.applyBatch(s,
        env("acct", su, acctImg, lit("u"))
          .unionByName(env("prof", su, profImg1, lit("u"))),
        wh, keyColsFor = _ => Seq("user_id"),
        streamId = sid, batchId = Some(1L))
      // batch 2: acct bumps evens (not %3) +5 and deletes %3 keys;
      // prof bumps odd keys +1 — disjoint legs, one row per key
      val acct2 = su.where(col("user_id") % 3 =!= 0 && col("user_id") % 2 === 0)
        .withColumn("cents", col("cents") + 5L).withColumn("__op", lit("u"))
        .unionByName(
          su.where(col("user_id") % 3 === 0).withColumn("__op", lit("d")))
      val prof2 = su.select(col("user_id"),
          (col("user_id") % 100 + 1).as("score"))
        .where(col("user_id") % 2 === 1)
      // CRASH between tables: only acct's merge lands, no cursor
      UpsertTable(s, graft.cdc.CdcSink.targetPath(wh, "acct")).merge(
        acct2.select(col("user_id"), col("cents"), col("__op")),
        opCol = Some("__op"), streamId = sid, batchId = Some(2L))
      def consistent(epoch: String): DataFrame =
        graft.cdc.CdcSink.readConsistent(s, wh, "acct")
          .select(lit(epoch).as("epoch"), lit("acct").as("tbl"),
            col("user_id"), col("cents").as("v"))
          .unionByName(graft.cdc.CdcSink.readConsistent(s, wh, "prof")
            .select(lit(epoch).as("epoch"), lit("prof").as("tbl"),
              col("user_id"), col("score").as("v")))
      val crashedView = consistent("crashed").localCheckpoint(true)
      // RESTART: the full batch 2 replays through the real sink —
      // acct is a store-level no-op, prof catches up, cursor 2 lands
      graft.cdc.CdcSink.applyBatch(s,
        env("acct", acct2,
            struct(col("user_id"), col("cents")),
            when(col("__op") === "d", lit("d")).otherwise(lit("u")))
          .unionByName(env("prof", prof2,
            struct(col("user_id"), col("score")), lit("u"))),
        wh, keyColsFor = _ => Seq("user_id"),
        streamId = sid, batchId = Some(2L))
      crashedView.unionByName(consistent("replayed"))
        .orderBy("epoch", "tbl", "user_id")
    }),

    // q387 — q381's kill-between-tables cycle CONSUMED FROM SQL ONLY:
    // the `table_consistent('cat', 'table')` TVF (the q325/q375
    // SQL-parity pattern applied to the consistency cursor) — every
    // read below goes through spark.sql, no API call touches the
    // stores after the writes, and the torn window must still be
    // invisible to the SQL consumer. Same scenario and closed-form
    // oracle as q381, but on its own store dirs — what is under test
    // here is the TVF surface, analysis-time cursor resolution
    // included.
    "q387_sql_consistent_read" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cdc-sqlcons-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val wh = s"$base/wh"
      val sid = Some(s"$base/sid")
      s.conf.set("spark.sql.catalog.graft_cons",
        classOf[GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft_cons.warehouse", wh)
      val su = Tables.load(s, d, "events")
        .where(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(max(expr("cast(round(value * 100) as bigint)")).as("cents"))
      def env(table: String, rows: DataFrame, image: Column,
          op: Column): DataFrame =
        rows.select(to_json(struct(
          op.as("op"),
          struct(lit(table).as("table"), col("user_id").as("lsn"),
            col("user_id").as("txId")).as("source"),
          image.as("after"), image.as("before"))).as("value"))
      graft.cdc.CdcSink.applyBatch(s,
        env("acct", su, struct(col("user_id"), col("cents")), lit("u"))
          .unionByName(env("prof", su,
            struct(col("user_id"), (col("user_id") % 100).as("score")),
            lit("u"))),
        wh, keyColsFor = _ => Seq("user_id"),
        streamId = sid, batchId = Some(1L))
      val acct2 = su.where(col("user_id") % 3 =!= 0 && col("user_id") % 2 === 0)
        .withColumn("cents", col("cents") + 5L).withColumn("__op", lit("u"))
        .unionByName(
          su.where(col("user_id") % 3 === 0).withColumn("__op", lit("d")))
      // CRASH between tables, as in q381
      UpsertTable(s, graft.cdc.CdcSink.targetPath(wh, "acct")).merge(
        acct2.select(col("user_id"), col("cents"), col("__op")),
        opCol = Some("__op"), streamId = sid, batchId = Some(2L))
      def consistent(epoch: String): DataFrame =
        s.sql("SELECT user_id, cents AS v FROM " +
            "table_consistent('graft_cons', 'acct')")
          .select(lit(epoch).as("epoch"), lit("acct").as("tbl"),
            col("user_id"), col("v"))
          .unionByName(s.sql("SELECT user_id, score AS v FROM " +
              "table_consistent('graft_cons', 'prof')")
            .select(lit(epoch).as("epoch"), lit("prof").as("tbl"),
              col("user_id"), col("v")))
      val crashedView = consistent("crashed").localCheckpoint(true)
      graft.cdc.CdcSink.applyBatch(s,
        env("acct", acct2,
            struct(col("user_id"), col("cents")),
            when(col("__op") === "d", lit("d")).otherwise(lit("u")))
          .unionByName(env("prof",
            su.select(col("user_id"),
                (col("user_id") % 100 + 1).as("score"))
              .where(col("user_id") % 2 === 1),
            struct(col("user_id"), col("score")), lit("u"))),
        wh, keyColsFor = _ => Seq("user_id"),
        streamId = sid, batchId = Some(2L))
      crashedView.unionByName(consistent("replayed"))
        .orderBy("epoch", "tbl", "user_id")
    }),

    // q301 — STREAMING STORE SOURCE (the reference's dynamic-table
    // role, flink_json_to_iceberg.py:96-119; the Delta
    // streaming-source analog): a STANDING STREAM tails one
    // UpsertTable's change feed through the DSv2 MicroBatchStream
    // ([[graft.streaming.ChangeFeed]]) and maintains a second
    // UpsertTable from it — downstream is `readStream`, not a
    // self-scheduled readChanges poll. Harness: events split into
    // three delta commits (event_id % 3, within-commit order
    // (ts, event_id)); pass 1 streams commits 1-2 under AvailableNow;
    // commit 3 lands; pass 2 RESTARTS on the same checkpoint — the
    // source's offset log resumes at the committed version, so only
    // the new commit is consumed (incremental restart under the
    // DuckDB gate, not just in units; ChangeFeedStreamSpec adds the
    // mid-stream kill). Downstream merges carry (streamId, batchId),
    // so a replayed batch is a no-op — exactly-once end to end. The
    // oracle replays the same changelog in SQL: per user the global
    // (slice, ts, event_id) winner decides, 'error' ≙ delete.
    "q301_stream_changefeed" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cfs-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val changelog = ev
        .withColumn("__op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
      val src = UpsertTable(s, s"$base/src")
      // explicit create: the table must exist BEFORE the first delta
      // commit so every data commit is feed-servable (an auto-create
      // full merge would be a non-delta commit the feed refuses)
      src.create(ev.schema, Seq("user_id"))
      def commitSlice(r: Int): Unit =
        src.merge(changelog.where(pmod(col("event_id"), lit(3)) === r),
          opCol = Some("__op"), orderCol = Some("__ord"), delta = true)
      def runPass(): Unit = {
        val q = graft.streaming.ChangeFeed.readStream(s, s"$base/src")
          .writeStream
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            UpsertTable(s, s"$base/dst").merge(b,
              opCol = Some("_change_op"),
              orderCol = Some("_commit_version"),
              streamId = Some("q301"), batchId = Some(batchId),
              autoCreateKeys = Seq("user_id"), delta = true)
            ()
          }
          .start()
        q.awaitTermination()
      }
      commitSlice(0); commitSlice(1)
      runPass()
      commitSlice(2)
      runPass()
      UpsertTable(s, s"$base/dst").read()
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    // q312 — STATEFUL AGGREGATION STANDING ON THE CHANGE FEED: the
    // other half of the dynamic-table contract — q301 showed a
    // foreachBatch consumer; here the feed flows into Spark's own
    // STREAMING AGGREGATION (complete mode, state carried across
    // micro-batches): change volume per (commit version, op) — the
    // monitoring query every CDC deployment runs. Two passes on one
    // checkpoint (commits 1-2, then commit 3 after a restart) force
    // the agg state to survive the restart and merge the new
    // version's counts. The oracle replays the normalized changelog
    // per slice (latest per key by (ts, event_id), 'error' ≙ d) —
    // exactly what each delta commit recorded.
    "q312_stream_feed_agg" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-cfsa-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      val changelog = ev
        .withColumn("__op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
      val src = UpsertTable(s, s"$base/src")
      src.create(ev.schema, Seq("user_id"))
      def commitSlice(r: Int): Unit =
        src.merge(changelog.where(pmod(col("event_id"), lit(3)) === r),
          opCol = Some("__op"), orderCol = Some("__ord"), delta = true)
      def runPass(): Unit = {
        val q = withShufflePartitions(s, 8) {
          graft.streaming.ChangeFeed.readStream(s, s"$base/src")
            .groupBy("_commit_version", "_change_op")
            .agg(count(lit(1)).as("n_rows"),
              min("user_id").as("min_key"), max("user_id").as("max_key"))
            .writeStream
            .outputMode("complete")
            .option("checkpointLocation", s"$base/cp")
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              b.write.mode("overwrite").parquet(s"$base/out")
            }
            .start()
        }
        q.awaitTermination()
      }
      commitSlice(0); commitSlice(1)
      runPass()
      commitSlice(2)
      runPass()
      s.read.parquet(s"$base/out")
        .orderBy("_commit_version", "_change_op")
    }),

    // q51 — co-located bucketed join: both sides written ONCE as
    // bucketed tables (8 buckets on the join key, sorted within
    // buckets), then joined with zero exchanges — the scan's bucket
    // layout satisfies the join's (and the aggregation's) required
    // distribution, so at 100 TB the repeated-join workload pays the
    // shuffle once at write time instead of per query. Plan-pinned: no
    // hash-partition exchange anywhere (PlanShapeSpec).
    "q51_bucketed_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-bucketed-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      val suffix = math.abs(d.hashCode).toString
      val ev = Tables.load(s, d, "events").select("event_id", "user_id")
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("user_id"))
      ev.write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$base/ev").saveAsTable(s"bucketed_events_$suffix")
      ord.write.mode("overwrite")
        .bucketBy(8, "user_id").sortBy("user_id")
        .option("path", s"$base/ord").saveAsTable(s"bucketed_orders_$suffix")
      val l = s.table(s"bucketed_events_$suffix").hint("merge")
      val r = s.table(s"bucketed_orders_$suffix").hint("merge")
      l.join(r, "user_id")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // q81 — DYNAMIC PARTITION PRUNING: orders written once
    // hive-partitioned by o_orderpriority, probed through a join with
    // a dim whose filter is an AGGREGATE property (odd group count) —
    // deliberately not a function of the join key, so static
    // predicate inference cannot prune and Catalyst must inject the
    // runtime dynamicpruning subquery that drops fact partitions
    // before the scan. At 100 TB, partition-pruned scans are the
    // difference between reading the selected priorities and reading
    // the table. Plan-pinned: the fact scan carries a dynamicpruning
    // partition filter (PlanShapeSpec).
    "q81_dpp" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-dpp-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run, no orphaned trees
      val ord = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("pi"))
      ord.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(s"$base/orders")
      val fact = s.read.parquet(s"$base/orders")
      val dim = ord.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("__n"))
        .where(pmod(col("__n"), lit(2L)) === 1L)
        .select("o_orderpriority")
      fact.join(dim, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("pi")).as("sv"))
        .orderBy("o_orderpriority")
    }),

    // q66 — Z-order clustering under the oracle: events upserted into
    // the store, re-laid along the (user_id, value) Morton curve
    // (multiple z-contiguous files per bucket), then range-scanned by
    // a non-key predicate through catalog SQL. Correctness of the
    // clustered layout + manifest-stats file skipping is what's gated:
    // the pruned DSv2 scan must still return exactly the full answer.
    "q66_zorder_scan" -> ((s, d) => {
      ensureCatalog(s)
      val tableName = "events_zorder_" + math.abs(d.hashCode).toString
      val location = Paths.get(warehouse, "cdc", tableName)
      deleteRecursively(location)
      val events = Tables.load(s, d, "events")
        .select("event_id", "user_id", "event_type", "value")
      val t = UpsertTable(s, location.toString)
      t.merge(events, autoCreateKeys = Seq("event_id"), autoCreateBuckets = 4)
      // 4096 rows/file: a real multi-file z split at bench scale
      // (sf0.1: ~7 files per bucket) without paying ~200 per-file
      // footer-stats reads; the exact skipping geometry is pinned in
      // ZOrderSpec, this query gates CORRECTNESS of the pruned scan
      t.cluster(Seq("user_id", "value"), maxRowsPerFile = 4096L)
      s.sql("SELECT event_id, user_id, round(value, 6) AS value " +
        s"FROM $CatalogName.cdc.$tableName " +
        "WHERE user_id BETWEEN 10 AND 20 ORDER BY event_id")
    }),

    // q69 — streaming DEDUPLICATION state under the oracle: the whole
    // event stream is produced TWICE (a full replay as a second topic
    // file), maxFilesPerTrigger=1 makes the replay its own micro-batch,
    // and `dropDuplicates(event_id)` must suppress every replayed row
    // against dedup STATE built in the previous batch — the appended
    // output equals the events table exactly once. (Bounded-state
    // production form adds a watermark; the data here is replay-only,
    // so unbounded keys-seen state is the honest test shape.)
    "q69_stream_dedup" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-dedup-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select("event_id", "user_id", "event_type").coalesce(1)
      Topic.produce(ev, s"$base/topic") // original
      Topic.produce(ev, s"$base/topic") // full replay -> 2nd micro-batch
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING")
      val deduped = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j"))
        .select("j.*")
        .dropDuplicates("event_id")
      val q = withShufflePartitions(s, 8) {
        deduped.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("event_id")
    }),

    // q70 — the incremental CHANGE FEED under the oracle: events
    // applied as two delta-merge commits (even event_ids, then odd),
    // then readChanges over the range must reproduce each commit's
    // exact normalized changelog — per-key last row within its half,
    // 'error' rows as 'd' tombstones, stamped with the right commit.
    // This is the O(changed rows) consumption path a downstream
    // pipeline polls instead of re-reading table state.
    "q70_change_feed" -> ((s, d) => {
      val tablePath = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-feed-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(tablePath)
      val ev = Tables.load(s, d, "events")
        .withColumn("__op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
        .select("event_id", "user_id", "event_type", "__op", "__ord")
      val t = UpsertTable(s, tablePath.toString)
      t.merge(ev.where(col("event_id") % 2 === 0), opCol = Some("__op"),
        orderCol = Some("__ord"), autoCreateKeys = Seq("user_id"),
        delta = true)
      val v0 = t.currentSnapshot.get.version
      t.merge(ev.where(col("event_id") % 2 === 1), opCol = Some("__op"),
        orderCol = Some("__ord"), delta = true)
      t.readChanges(v0 - 1, v0 + 1)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("_change_op"),
          (col("_commit_version") - lit(v0 - 1)).as("batch_no"))
        .orderBy("batch_no", "user_id")
    }),

    // q325 — CHANGE FEED VIA PURE SQL: q70's exact feed reproduced
    // through the `table_changes('cat.ns.t', fromV, toV)` TVF with
    // spark.sql ONLY — the Delta-parity surface that lets the
    // reference's query-layer consumer (README.md:175-179, who speaks
    // SQL and nothing else) reach row-level CDC the way it already
    // reaches time travel, `.snapshots` and DML. Setup commits are the
    // q70 API merges against a CATALOG-warehouse table; the consumed
    // plan is the identical O(changed rows) delta-file scan (the TVF
    // expands to readChanges at analysis; TableChangesSpec pins
    // SQL == API and the loud expired/non-delta failures).
    "q325_sql_table_changes" -> ((s, d) => {
      ensureCatalog(s)
      val tbl = "feed_" + math.abs(d.hashCode).toString
      deleteRecursively(Paths.get(warehouse, "cdc", tbl))
      Files.createDirectories(Paths.get(warehouse, "cdc"))
      val ev = Tables.load(s, d, "events")
        .withColumn("__op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
        .select("event_id", "user_id", "event_type", "__op", "__ord")
      val t = UpsertTable(s, Paths.get(warehouse, "cdc", tbl).toString)
      t.merge(ev.where(col("event_id") % 2 === 0), opCol = Some("__op"),
        orderCol = Some("__ord"), autoCreateKeys = Seq("user_id"),
        delta = true)
      val v0 = t.currentSnapshot.get.version
      t.merge(ev.where(col("event_id") % 2 === 1), opCol = Some("__op"),
        orderCol = Some("__ord"), delta = true)
      s.sql(s"SELECT user_id, event_id, event_type, _change_op, " +
        s"_commit_version - ${v0 - 1} AS batch_no " +
        s"FROM table_changes('$CatalogName.cdc.$tbl', ${v0 - 1}, ${v0 + 1}) " +
        "ORDER BY batch_no, user_id")
    }),

    // q375 — SQL REF READ (`table_ref` TVF): the pure-SQL surface of
    // q372's named refs — the Iceberg VERSION-AS-OF-'ref' role. The
    // harness runs the WAP flow through the API (seed → tag, branch →
    // publish one commit, leave one UNPUBLISHED on the head) and then
    // answers entirely FROM SQL: the head count via the ordinary
    // catalog identifier, the published and baseline counts via
    // table_ref — proving a SQL-only dashboard can never observe the
    // unaudited commit. Expansion is a driver-side manifest read; each
    // leg is a plain pinned-version vectorized scan.
    "q375_sql_ref_read" -> ((s, d) => {
      ensureCatalog(s)
      val tbl = "refq_" + math.abs(d.hashCode).toString
      deleteRecursively(Paths.get(warehouse, "cdc", tbl))
      Files.createDirectories(Paths.get(warehouse, "cdc"))
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val t = UpsertTable(s, Paths.get(warehouse, "cdc", tbl).toString)
      t.merge(ev.where(col("event_id") % 4 === 0),
        autoCreateKeys = Seq("event_id"), delta = true)
      t.createTag("seed")
      t.createBranch("main")
      t.merge(ev.where(col("event_id") % 4 === 1), delta = true)
      t.fastForward("main") // audited + published
      t.merge(ev.where(col("event_id") % 4 === 2), delta = true) // not yet
      def leg(label: String, from: String) =
        s"SELECT '$label' AS ref, COUNT(*) AS n, " +
          "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) " +
          s"AS sum_cents FROM $from"
      s.sql(leg("head", s"$CatalogName.cdc.$tbl") +
        " UNION ALL " +
        leg("main", s"table_ref('$CatalogName.cdc.$tbl', 'main')") +
        " UNION ALL " +
        leg("seed", s"table_ref('$CatalogName.cdc.$tbl', 'seed')") +
        " ORDER BY ref")
    }),

    // q75 — gap SESSIONIZATION as a real stateful stream under the
    // oracle: the q42 batch twin re-computed by Sessionize
    // (flatMapGroupsWithState, event-time timeouts). All real events
    // land in batch 1; two watermark-bump sentinel batches then push
    // the watermark past every session's end+gap so the TIMEOUT path —
    // the state-TTL mechanism — emits every session. Bounds are
    // ms-precision (the state holds epoch ms); the oracle sessionizes
    // on the same ms-truncated times.
    "q75_stream_sessions" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-sess-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("t_us"))
      val maxUs = ev.agg(max(col("t_us"))).head().getLong(0)
      val hourUs = 3600L * 1000000L
      Topic.produce(ev.coalesce(1), s"$base/topic")
      Topic.produce(Seq((-1L, maxUs + 8 * hourUs)).toDF("user_id", "t_us"),
        s"$base/topic")
      Topic.produce(Seq((-1L, maxUs + 16 * hourUs)).toDF("user_id", "t_us"),
        s"$base/topic")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, t_us BIGINT")
      val sessions = graft.streaming.Sessionize.sessions(
        Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
          .select(from_json(col("value"), schema).as("j"))
          .select(col("j.user_id").as("user_id"),
            timestamp_micros(col("j.t_us")).as("ts"))
          .as[graft.streaming.SessionEvent],
        gapMs = 6L * 3600 * 1000, watermarkDelay = "1 hour")
      val q = withShufflePartitions(s, 8) {
        sessions.toDF().writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .where(col("user_id") >= 0)
        .select(col("user_id"),
          (row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")
              .orderBy("session_start")) - 1).cast("long").as("session_idx"),
          col("events").cast("long").as("n_events"),
          unix_millis(col("session_start")).as("ts_start_ms"),
          unix_millis(col("session_end")).as("ts_end_ms"))
        .orderBy("user_id", "session_idx")
    }),

    // q76 — INCREMENTAL VIEW MAINTENANCE over the change feed: a
    // per-event_type count/sum view kept fresh by two O(changes)
    // refreshes (inserts, then updates + deletes) — never a source
    // rescan — must equal the from-scratch DuckDB aggregate of the
    // final state. The measure is floor(value) so sums are
    // integer-exact under any accumulation order (the non-integer-sum
    // drift caveat is documented on the operator).
    "q76_incremental_view" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-iview-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"),
          floor(col("value")).cast("long").as("vi"))
      val src = UpsertTable(s, s"$base/src")
      val tgt = UpsertTable(s, s"$base/tgt")
      tgt.create(org.apache.spark.sql.types.StructType.fromDDL(
        "event_type STRING, n BIGINT, sv DOUBLE"), keys = Seq("event_type"))
      // commit 1: the even-id half
      src.merge(ev.where(col("event_id") % 2 === 0),
        autoCreateKeys = Seq("event_id"), delta = true)
      val v1 = src.currentSnapshot.get.version
      graft.store.IncrementalAgg.refreshCountSum(s, src, tgt,
        v1 - 1, v1, "event_id", "event_type", "vi")
      // commit 2: odd ids inserted; evens < 1000 updated (+10);
      // evens in [1000, 2000) deleted
      val batch2 = ev.where(col("event_id") % 2 === 1)
        .withColumn("__op", lit("u"))
        .unionByName(ev
          .where(col("event_id") % 2 === 0 && col("event_id") < 1000)
          .withColumn("vi", col("vi") + 10L).withColumn("__op", lit("u")))
        .unionByName(ev
          .where(col("event_id") % 2 === 0
            && col("event_id") >= 1000 && col("event_id") < 2000)
          .withColumn("__op", lit("d")))
      src.merge(batch2, opCol = Some("__op"), delta = true)
      val v2 = src.currentSnapshot.get.version
      graft.store.IncrementalAgg.refreshCountSum(s, src, tgt,
        v1, v2, "event_id", "event_type", "vi")
      tgt.read().orderBy("event_type")
    }),

    // q173 — INCREMENTAL JOIN-VIEW MAINTENANCE (the delta-join next
    // to q76's delta-aggregate): `fact LEFT JOIN dim` kept fresh from
    // BOTH tables' change feeds — fact changes re-join the current
    // dim, dim changes fan back through the affected fact rows (the
    // reverse index), deletes on either side land as target deletes /
    // null attrs. Two commits per table: fact inserts+updates+deletes
    // (q76's pattern) and dim attr updates + dim-row deletions — the
    // dim delete is the interesting leg: its facts must flip to null
    // attrs without anyone re-joining the unaffected rows. The final
    // maintained table must hash-match the from-scratch LEFT JOIN of
    // the two final states.
    "q173_incremental_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-ijoin-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val users = ev.select("user_id").distinct()
        .withColumn("attr", col("user_id") * 10 + 1)
      val a = UpsertTable(s, s"$base/a")
      val b = UpsertTable(s, s"$base/b")
      val m = UpsertTable(s, s"$base/m")
      // commit A1 (even event ids) + B1 (even users)
      a.merge(ev.where(col("event_id") % 2 === 0),
        autoCreateKeys = Seq("event_id"), delta = true)
      val vA1 = a.currentSnapshot.get.version
      b.merge(users.where(col("user_id") % 2 === 0),
        autoCreateKeys = Seq("user_id"), delta = true)
      val vB1 = b.currentSnapshot.get.version
      graft.store.IncrementalJoin.refreshLeftJoin(s, a, b, m,
        vA1 - 1, vA1, vB1 - 1, vB1, "event_id", "user_id", "user_id")
      // commit A2: odds inserted; evens < 1000 get cents+10; evens in
      // [1000, 2000) deleted (q76's fact pattern)
      val batchA2 = ev.where(col("event_id") % 2 === 1)
        .withColumn("__op", lit("u"))
        .unionByName(ev
          .where(col("event_id") % 2 === 0 && col("event_id") < 1000)
          .withColumn("cents", col("cents") + 10L)
          .withColumn("__op", lit("u")))
        .unionByName(ev
          .where(col("event_id") % 2 === 0
            && col("event_id") >= 1000 && col("event_id") < 2000)
          .withColumn("__op", lit("d")))
      a.merge(batchA2, opCol = Some("__op"), delta = true)
      val vA2 = a.currentSnapshot.get.version
      // commit B2 (disjoint legs): odd users inserted (u%5 != 0),
      // existing u%6 == 0 users' attr bumped, u%5 == 0 users DELETED
      val batchB2 = users
        .where(col("user_id") % 2 === 1 && col("user_id") % 5 =!= 0)
        .withColumn("__op", lit("u"))
        .unionByName(users
          .where(col("user_id") % 6 === 0 && col("user_id") % 5 =!= 0)
          .withColumn("attr", col("attr") + 5L)
          .withColumn("__op", lit("u")))
        .unionByName(users
          .where(col("user_id") % 2 === 0 && col("user_id") % 5 === 0)
          .withColumn("__op", lit("d")))
      b.merge(batchB2, opCol = Some("__op"), delta = true)
      val vB2 = b.currentSnapshot.get.version
      graft.store.IncrementalJoin.refreshLeftJoin(s, a, b, m,
        vA1, vA2, vB1, vB2, "event_id", "user_id", "user_id")
      m.read()
        .select("event_id", "user_id", "cents", "attr")
        .orderBy("event_id")
    }),

    // q180 — CRASH-SAFE CATCH-UP MAINTENANCE (q173 run the way
    // production runs it): the maintained join advanced by
    // `catchUpLeftJoin` — cursor packed into the target commit's
    // replay-guard batchId, so data + cursor move atomically and a
    // replayed call is a store-level no-op. The script interleaves
    // redundant catch-up calls between rounds (each must change
    // nothing) and ends with a DIM-ONLY round — the cursor must
    // advance on one side while the other stands still. Final state
    // hash-matches the closed-form LEFT JOIN.
    "q180_catchup_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-catchup-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val users = ev.select("user_id").distinct()
        .withColumn("attr", col("user_id") * 10 + 1)
      val a = UpsertTable(s, s"$base/a")
      val b = UpsertTable(s, s"$base/b")
      val m = UpsertTable(s, s"$base/m")
      // round 1
      a.merge(ev.where(col("event_id") % 2 === 0),
        autoCreateKeys = Seq("event_id"), delta = true)
      b.merge(users.where(col("user_id") % 2 === 0),
        autoCreateKeys = Seq("user_id"), delta = true)
      val bootA = a.currentSnapshot.get.version - 1
      val bootB = b.currentSnapshot.get.version - 1
      def catchUp(): Boolean = graft.store.IncrementalJoin.catchUpLeftJoin(
        s, a, b, m, "event_id", "user_id", "user_id", bootA, bootB)
      require(catchUp(), "round-1 catch-up must refresh")
      require(!catchUp(), "caught-up catch-up must be a no-op")
      // round 2: the q173 fact + dim churn
      val batchA2 = ev.where(col("event_id") % 2 === 1)
        .withColumn("__op", lit("u"))
        .unionByName(ev
          .where(col("event_id") % 2 === 0 && col("event_id") < 1000)
          .withColumn("cents", col("cents") + 10L)
          .withColumn("__op", lit("u")))
        .unionByName(ev
          .where(col("event_id") % 2 === 0
            && col("event_id") >= 1000 && col("event_id") < 2000)
          .withColumn("__op", lit("d")))
      a.merge(batchA2, opCol = Some("__op"), delta = true)
      val batchB2 = users
        .where(col("user_id") % 2 === 1 && col("user_id") % 5 =!= 0)
        .withColumn("__op", lit("u"))
        .unionByName(users
          .where(col("user_id") % 6 === 0 && col("user_id") % 5 =!= 0)
          .withColumn("attr", col("attr") + 5L)
          .withColumn("__op", lit("u")))
        .unionByName(users
          .where(col("user_id") % 2 === 0 && col("user_id") % 5 === 0)
          .withColumn("__op", lit("d")))
      b.merge(batchB2, opCol = Some("__op"), delta = true)
      require(catchUp(), "round-2 catch-up must refresh")
      // round 3: DIM-ONLY — +7 for surviving u%7 users (closed form:
      // attr = 10u+1 +5 if u%6==0, +7 here)
      b.merge(users
        .where(col("user_id") % 7 === 0 && col("user_id") % 5 =!= 0)
        .withColumn("attr", col("user_id") * 10 + 1 +
          when(col("user_id") % 6 === 0, 5L).otherwise(0L) + 7L)
        .withColumn("__op", lit("u")),
        opCol = Some("__op"), delta = true)
      require(catchUp(), "dim-only catch-up must refresh")
      require(!catchUp(), "final catch-up must be a no-op")
      m.read()
        .select("event_id", "user_id", "cents", "attr")
        .orderBy("event_id")
    }),

    // q210 — SNAPSHOT DIFF (dataset-version changelog): the
    // added/removed/changed audit between two commits of a keyed
    // store table — what "what changed since the last training-data
    // release" asks. The table takes THREE real commits (initial
    // load, an upsert wave, a delete-merge), then v1 is read by time
    // travel and diffed against head with one full-outer join on the
    // PRIMARY KEY — both versions share the table's bucket layout, so
    // at scale this plans co-located (the DmlBucketPruneSpec
    // contract), never a cross-version re-hash of the corpus. The
    // ORACLE replays the three commits relationally (last-write-wins
    // per key per wave, then the delete predicate) from the raw
    // events — the store's versioning machinery against a plan-free
    // relational model.
    // q250 — STREAMING MISRA-GRIES: q243's deterministic-bound
    // heavy-hitter summary as a CONTINUOUS query — the ≤k-counter
    // state accumulates in streaming aggregation state across forced
    // micro-batches (the q102/q231 scaffold), so "what dominates this
    // stream" is answered with O(k) state however long the stream
    // runs. The PODS'12 merge makes the cross-batch combine exactly
    // the operator's own merge step, and the theorem bounds hold
    // under ANY batch split — so the gate is the q243 pattern: a
    // planted ~50% hot token (md5-free: the event_id parity coin)
    // must be present with its estimate inside [true − N/(k+1), true]
    // at k=3, while the five organic types (~10% each) keep the
    // summary under decrement pressure.
    // q383 — STREAMING DETERMINISTIC k-SAMPLE: the RNG-free uniform
    // sample (q116's md5 bottom-k rule) maintained as STREAMING STATE
    // — a standing data-quality monitor needs "a uniform sample of
    // everything seen so far" without re-reading history, and bottom-k
    // under a fixed hash IS a mergeable reservoir: the `top_k`
    // TypedImperativeAggregate's partial-merge across micro-batches is
    // exactly the sample's union-then-trim, so state is O(k) forever
    // and the result after ANY batch split equals the batch bottom-k
    // over the full stream — which IS the oracle. Same forced
    // 2-micro-batch scaffold as q250/q102.
    "q383_stream_bottomk_sample" -> ((s, d) => {
      val sk = streamedEventAgg(s, d, "stream-bk",
        Seq("event_id", "ts", "event_type"),
        "event_id BIGINT, ts BIGINT, event_type STRING") { parsed =>
        parsed
          .withColumn("h", expr("cast(conv(substring(md5(concat('bk:', " +
            "cast(event_id as string))), 1, 15), 16, 10) as bigint)"))
          .agg(expr("top_k(-h, event_id, 20)").as("tk"))
      }
      sk.select(posexplode(col("tk")))
        .select((col("pos") + 1).cast("long").as("rk"),
          col("col.id").as("event_id"), (-col("col.score")).as("h"))
        .orderBy("rk")
    }),

    "q250_stream_misra_gries" -> ((s, d) => {
      val sk = streamedEventAgg(s, d, "stream-mg",
        Seq("event_id", "ts", "event_type"),
        "event_id BIGINT, ts BIGINT, event_type STRING") { parsed =>
        parsed
          .withColumn("tok", when(col("event_id") % 2 === 0, lit("hot"))
            .otherwise(col("event_type")))
          .agg(expr("misra_gries(tok, 3)").as("mg"))
      }
      val toks = Tables.load(s, d, "events")
        .select(when(col("event_id") % 2 === 0, lit("hot"))
          .otherwise(col("event_type")).as("tok"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      exact.crossJoin(broadcast(tot))
        .where(expr("cnt * 4 > n"))
        .crossJoin(broadcast(sk))
        .select(col("tok"), col("cnt"), col("n"),
          expr("element_at(mg, tok) is not null").as("in_sketch"),
          expr("case when element_at(mg, tok) is null then false " +
            "else element_at(mg, tok) <= cnt and " +
            "(cnt - element_at(mg, tok)) * 4 <= n end").as("bounds_ok"))
        .orderBy("tok")
    }),

    // q244 — INCREMENTAL ANN INDEX MAINTENANCE: the inverted file as
    // a MAINTAINED STORE ARTIFACT instead of a per-query computation
    // (AnnIvf's Scaladoc scale note made real). Commit 1 indexes the
    // first 80% of the corpus against the frozen q22 centroid
    // configuration; commit 2 assigns ONLY the new batch to the same
    // frozen centroids and merges — the incremental path never
    // rescans the already-indexed corpus, which is the whole point at
    // 100 TB (index cost ∝ new data, not corpus size). Under frozen
    // centroids incremental maintenance ≡ full rebuild — the oracle
    // replays the one-shot assignment, so any drift in the
    // merge/commit path breaks the hash. The search stage reads
    // postings (vec_id, bucket) from the STORE head and joins vectors
    // back by primary key ([[graft.pipeline.AnnIvf.topKFromAssigned]]);
    // recall@10 vs brute force plus both versions' index sizes are
    // gated — v1 must hold exactly the first batch (proving commit 2
    // touched only new keys).
    "q244_incremental_ivf" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-ivfidx-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cut = e.count() * 4 / 5
      val centroids = e.where(col("vec_id") < 16)
      val t = UpsertTable(s, s"$base/ivf")
      t.merge(graft.pipeline.AnnIvf
          .assignBuckets(e.where(col("vec_id") < cut), centroids)
          .select(col("vec_id"), col("bucket")),
        autoCreateKeys = Seq("vec_id"), delta = true)
      val v1 = t.currentSnapshot.get.version
      t.merge(graft.pipeline.AnnIvf
          .assignBuckets(e.where(col("vec_id") >= cut), centroids)
          .select(col("vec_id"), col("bucket")),
        delta = true)
      val n1 = t.readVersion(v1).count()
      val n2 = t.read().count()
      val assigned = t.read().join(e, "vec_id")
        .select(col("vec_id"), col("emb"), col("bucket"))
      val q = e.where(col("vec_id") < 5)
      val approx = graft.pipeline.AnnIvf
        .topKFromAssigned(assigned, centroids, q, k = 10, nprobe = 4)
        .select(col("qid"), col("vec_id"))
      val exact = graft.pipeline.Similarity.bruteForceTopK(e, q, k = 10)
        .select(col("qid"), col("vec_id"))
      val inter = exact.join(approx, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("inter"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(approx.groupBy("qid").agg(count(lit(1)).as("n_approx")),
          Seq("qid"))
        .join(inter, Seq("qid"), "left")
        .select(col("qid"), col("n_exact"), col("n_approx"),
          coalesce(col("inter"), lit(0L)).as("inter"))
        .withColumn("recall_micro", expr("inter * 1000000 div n_exact"))
        .withColumn("n_index_v1", lit(n1))
        .withColumn("n_index_v2", lit(n2))
        .orderBy("qid")
    }),

    "q210_snapshot_diff" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-snapdiff-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val su = Tables.load(s, d, "events")
        .where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      val bounds = su.agg(min("ts"), max("ts")).head()
      val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
      def latest(df: DataFrame): DataFrame = df
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("cents"))).as("m"))
        .select(col("user_id"), col("m.cents").as("attr"))
      val t = UpsertTable(s, s"$base/t")
      t.merge(latest(su.where(col("ts") < cut)),
        autoCreateKeys = Seq("user_id"), delta = true)
      val v1 = t.currentSnapshot.get.version
      t.merge(latest(su.where(col("ts") >= cut)), delta = true)
      t.merge(t.read().where(col("user_id") % 10 === 3)
        .withColumn("__op", lit("d")), opCol = Some("__op"), delta = true)
      val a = t.readVersion(v1)
        .select(col("user_id"), col("attr").as("attr_v1"))
      val b = t.read().select(col("user_id"), col("attr").as("attr_v2"))
      a.join(b, Seq("user_id"), "full_outer")
        .withColumn("change",
          when(col("attr_v1").isNull, "added")
            .when(col("attr_v2").isNull, "removed")
            .when(col("attr_v1") =!= col("attr_v2"), "changed")
            .otherwise("unchanged"))
        .where(col("change") =!= "unchanged")
        .select(col("user_id"), col("change"),
          col("attr_v1"), col("attr_v2"))
        .orderBy("user_id")
    }),

    // q188 — BITEMPORAL QUERY (system time × valid time): the two
    // time axes the engine already has — store snapshot versioning
    // (q66/q70) and SCD2 validity intervals (q127/q128) — COMPOSED:
    // "as the dimension table stood at commit 1 (system time), what
    // attribute was valid at each purchase's timestamp (valid
    // time)?" next to the same probe against the current version.
    // The dim-change stream lands in two commits split at the median
    // change time; `readVersion` pins system time, the as-of rewrite
    // answers valid time. Late-arriving commit-2 changes with
    // EARLIER valid times are exactly what makes the two columns
    // differ — the retroactive-correction case bitemporal modeling
    // exists for.
    "q188_bitemporal" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-bitemporal-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
      val changes = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("attr"))
      val bounds = changes.agg(min(col("ts")), max(col("ts"))).head()
      val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
      val t = UpsertTable(s, s"$base/dim")
      t.merge(changes.where(col("ts") < cut),
        autoCreateKeys = Seq("user_id", "ts"), delta = true)
      val v1 = t.currentSnapshot.get.version
      t.merge(changes.where(col("ts") >= cut), delta = true)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      def asOf(dim: DataFrame, name: String) =
        graft.pipeline.Scd2.temporalJoin(purchases, dim, "user_id",
            col("ts"), col("ts"), "attr")
          .select(col("event_id"), round(col("attr"), 6).as(name))
      asOf(t.readVersion(v1), "attr_v1")
        .join(asOf(t.read(), "attr_now"), "event_id")
        .join(purchases, "event_id")
        .select(col("event_id"), col("user_id"), col("attr_v1"),
          col("attr_now"))
        .orderBy("event_id")
    }),

    // q190 — GDPR ERASURE (right-to-be-forgotten): every row
    // belonging to a set of users deleted from a keyed store table —
    // the compliance op a mutable table store exists for (plain
    // parquet can only rewrite everything). The erasure lands as one
    // keyed delete-merge commit; the AUDIT rides in-band: the
    // commit's own change feed must contain exactly the erased rows,
    // all as op 'd' (the evidence a DPO files), and compaction then
    // physically rewrites the current files. The reverse lookup
    // (user → their rows) runs through the per-file Bloom index on the
    // declared `user_id` lookup column ([[UpsertTable.readLookup]]):
    // erasure opens only the files whose bloom admits a victim, never
    // the whole fact table (LookupBloomSpec proves the pruning; this
    // gate proves the result). The victim id list is the request
    // payload — bounded driver-side by nature. The gate reads the
    // post-erasure table per user — one surviving erased row
    // hash-mismatches.
    "q190_gdpr_erasure" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-gdpr-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      s.conf.set(UpsertTable.LookupBloomsConf, "user_id")
      val t = try {
        val t0 = UpsertTable(s, s"$base/t")
        t0.merge(ev, autoCreateKeys = Seq("event_id"), delta = true)
        t0
      } finally s.conf.unset(UpsertTable.LookupBloomsConf)
      val victimIds = ev.where(col("user_id") % 10 === 0)
        .select("user_id").distinct()
        .collect().map(_.getLong(0)).toSeq // the erasure request payload
      val victims = t.readLookup("user_id", victimIds)
      t.merge(victims.withColumn("__op", lit("d")),
        opCol = Some("__op"), delta = true)
      val v2 = t.currentSnapshot.get.version
      t.compact() // physically fold the tombstones out of current files
      val nVictims = victims.count()
      val feed = t.readChanges(v2 - 1, v2)
      val audit = feed.agg(
        (count(lit(1)) === nVictims).as("feed_complete"),
        (sum(when(col("_change_op") =!= "d", 1L).otherwise(0L)) === 0L)
          .as("feed_all_deletes"))
      t.read()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .crossJoin(broadcast(audit))
        .orderBy("user_id")
    }),

    // q90 — CHAINED stateful aggregations in ONE streaming query
    // (multi-stateful-operator support): per-(day, type) counts/sums
    // re-aggregated into epoch-aligned weekly windows via
    // `window_time`, the watermark propagating through BOTH stateful
    // operators — agg2 only ever sees day windows agg1 has closed.
    // Sentinel rows must NOT be filtered before the aggregation: a
    // pre-agg filter gets pushed below the watermark node and the
    // sentinels would never advance it (observed: the last day/week
    // stays open forever). Instead they flow in and self-exclude —
    // their far-future windows never close, so they never emit. Day
    // windows never straddle week boundaries (both epoch-aligned),
    // so the result must hash-match the direct batch weekly
    // aggregate.
    "q90_stream_chained_aggs" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-chain-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), expr("ts div 1000").as("t_us"),
          col("event_type"), floor(col("value")).cast("long").as("vi"))
      val bounds = ev.agg(min(col("t_us")), max(col("t_us"))).head()
      val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
      val dayUs = 86400L * 1000000L
      // time-split files (the q87 transport contract): Spark's
      // watermark guarantee is one-directional — rows later than the
      // delay MAY be dropped — so a randomly-partitioned second file
      // arriving wholly below the watermark must not be relied on
      val cut = minUs + (maxUs - minUs) / 2
      Topic.produce(ev.where(col("t_us") < cut).coalesce(1), s"$base/topic")
      Topic.produce(ev.where(col("t_us") >= cut).coalesce(1), s"$base/topic")
      // three sentinels, 16 days out: each stateful layer adds one
      // batch of eviction latency AND delays the effective watermark
      // by its window size (the weekly agg evicts on the day-agg's
      // OUTPUT watermark), so the bump must clear last-week-end
      // + 1 day + the delay with margin
      (0 until 3).foreach { i =>
        Topic.produce(Seq((-1L, maxUs + 16 * dayUs + i * 1000000L, "x", 0L))
          .toDF("user_id", "t_us", "event_type", "vi"), s"$base/topic")
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, t_us BIGINT, event_type STRING, vi BIGINT")
      val parsed = Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
        .select(from_json(col("value"), schema).as("j"))
        .select("j.*")
        .withColumn("t", timestamp_micros(col("t_us")))
        .withWatermark("t", "1 hour")
      val daily = parsed
        .groupBy(window(col("t"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"))
      val weekly = daily
        .groupBy(window(window_time(col("window")), "7 days"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
        .select(unix_micros(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sv"))
      val q = withShufflePartitions(s, 8) {
        weekly.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy("w_start", "event_type")
    }),

    // q87 — stream-stream LEFT OUTER join: the semantic q47's inner
    // join never exercises — unmatched left rows surface as null rows
    // ONLY when the watermark evicts their buffered state (outer
    // results emit at eviction, never at match time). Topic files are
    // time-split at the midpoint so arrival is coarsely time-ordered
    // (the production transport contract) and a 1-hour delay covers
    // only within-batch disorder: a left row is evicted at
    // t_a + 12h < wm, by which point every possible match (t_b <
    // t_a + 12h) has already arrived. Far-future sentinel rows
    // (user_id -1, filtered from the output) push the final watermark
    // past every row + 12h so the last outer results flush through
    // AvailableNow's watermark-drain batches. The right side is the
    // pmod-8 half of the left's pmod-4 users — half the left users
    // can never match.
    // q167 — STREAMING CEP (Flink-CEP / MATCH_RECOGNIZE on a live
    // stream): q162's `click{2,} purchase within 24h` pattern detected
    // by a REAL checkpointed StreamingQuery through the Cep automaton
    // (flatMapGroupsWithState, O(1) run state per user, eager match
    // emission, event-time-timeout state TTL). The topic is time-split
    // at the midpoint so runs and click→purchase completions STRADDLE
    // the micro-batch boundary — the persisted CepRun must carry them;
    // a far-future sentinel advances the watermark so the TTL eviction
    // path runs before the query drains. Output must hash-match the
    // batch run-length lowering (q162's oracle shape in µs).
    "q167_stream_cep" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-cep-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("t_us"), col("event_type"))
      val bounds = ev.agg(min(col("t_us")), max(col("t_us"))).head()
      val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
      val cut = minUs + (maxUs - minUs) / 2
      val hourUs = 3600L * 1000000L
      Topic.produce(ev.where(col("t_us") < cut).coalesce(1), s"$base/topic")
      Topic.produce(ev.where(col("t_us") >= cut).coalesce(1), s"$base/topic")
      // sentinel batches: bump the watermark past every TTL horizon,
      // then fire the timeouts in a following batch (the q87 rule)
      Topic.produce(Seq((-1L, -1L, maxUs + 48 * hourUs, "view"))
        .toDF("user_id", "event_id", "t_us", "event_type"), s"$base/topic")
      Topic.produce(Seq((-1L, -2L, maxUs + 49 * hourUs, "view"))
        .toDF("user_id", "event_id", "t_us", "event_type"), s"$base/topic")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, t_us BIGINT, event_type STRING")
      val matches = graft.streaming.Cep.matches(
        Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
          .select(from_json(col("value"), schema).as("j"))
          .select(col("j.user_id").as("user_id"),
            col("j.event_id").as("event_id"), col("j.t_us").as("t_us"),
            timestamp_micros(col("j.t_us")).as("ts"),
            col("j.event_type").as("etype"))
          .as[graft.streaming.CepEvent],
        watermarkDelay = "1 hour")
      val q = withShufflePartitions(s, 8) {
        matches.toDF().writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("first_click_us"), col("last_click_us"),
          col("n_clicks"), col("purchase_us"))
        .orderBy("user_id", "first_click_us")
    }),

    // q200 — STREAMING CEP WITH ALTERNATION + OPTIONAL STEP
    // (MATCH_RECOGNIZE `PATTERN (A{2,} (B|C)? D) WITHIN t`): q167's
    // harness, [[graft.streaming.Cep2]]'s automaton — ≥2 consecutive
    // clicks, optionally ONE view-or-error event between them and the
    // purchase, purchase within 24 h of the last click. Look-behind is
    // exactly one extra run in state (still O(1) per key); the oracle
    // is the run-length lowering extended by a second lead() over the
    // run stream, so direct and via paths must both land value-exact,
    // `via_type` NULL ⇔ the optional element did not fire.
    "q200_stream_cep_alt" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-cep2-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("t_us"), col("event_type"))
      val bounds = ev.agg(min(col("t_us")), max(col("t_us"))).head()
      val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
      val cut = minUs + (maxUs - minUs) / 2
      val hourUs = 3600L * 1000000L
      Topic.produce(ev.where(col("t_us") < cut).coalesce(1), s"$base/topic")
      Topic.produce(ev.where(col("t_us") >= cut).coalesce(1), s"$base/topic")
      Topic.produce(Seq((-1L, -1L, maxUs + 48 * hourUs, "view"))
        .toDF("user_id", "event_id", "t_us", "event_type"), s"$base/topic")
      Topic.produce(Seq((-1L, -2L, maxUs + 49 * hourUs, "view"))
        .toDF("user_id", "event_id", "t_us", "event_type"), s"$base/topic")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, t_us BIGINT, event_type STRING")
      val matches = graft.streaming.Cep2.matches(
        Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
          .select(from_json(col("value"), schema).as("j"))
          .select(col("j.user_id").as("user_id"),
            col("j.event_id").as("event_id"), col("j.t_us").as("t_us"),
            timestamp_micros(col("j.t_us")).as("ts"),
            col("j.event_type").as("etype"))
          .as[graft.streaming.CepEvent],
        watermarkDelay = "1 hour")
      val q = withShufflePartitions(s, 8) {
        matches.toDF().writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("first_click_us"), col("last_click_us"),
          col("n_clicks"), col("via_type"), col("purchase_us"))
        .orderBy("user_id", "first_click_us")
    }),

    // q179 — STREAMING OVER AGGREGATION (Flink SQL's unbounded OVER
    // window on a stream): every arriving event emits one row with
    // its per-user running rank and running cents sum — the per-ROW
    // result surface streaming groupBy cannot produce. State = two
    // longs per key (the minimum possible); emission eager, append
    // mode, no watermark machinery at all. Batches are time-split so
    // the carried state makes per-key order global; the output must
    // hash-match the batch ROWS UNBOUNDED PRECEDING window.
    "q179_stream_over" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-over-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("t_us"),
          round(col("value") * 100).cast("long").as("cents"))
      val bounds = ev.agg(min(col("t_us")), max(col("t_us"))).head()
      val cut = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
      Topic.produce(ev.where(col("t_us") < cut).coalesce(1), s"$base/topic")
      Topic.produce(ev.where(col("t_us") >= cut).coalesce(1), s"$base/topic")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, t_us BIGINT, cents BIGINT")
      val running = graft.streaming.OverAgg.running(
        Topic.stream(s, s"$base/topic", maxFilesPerTrigger = Some(1))
          .select(from_json(col("value"), schema).as("j"))
          .select(col("j.user_id").as("user_id"),
            col("j.event_id").as("event_id"), col("j.t_us").as("t_us"),
            timestamp_micros(col("j.t_us")).as("ts"),
            col("j.cents").as("cents"))
          .as[graft.streaming.OverEvent])
      val q = withShufflePartitions(s, 8) {
        running.toDF().writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .select("user_id", "event_id", "rn", "rsum")
        .orderBy("user_id", "rn")
    }),

    "q87_stream_outer_join" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-stream-louter-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      import s.implicits._
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("t_us"))
      val bounds = ev.agg(min(col("t_us")), max(col("t_us"))).head()
      val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
      val cut = minUs + (maxUs - minUs) / 2
      val hourUs = 3600L * 1000000L
      def feed(df: DataFrame, dir: String): Unit = {
        Topic.produce(df.where(col("t_us") < cut).coalesce(1), dir)
        Topic.produce(df.where(col("t_us") >= cut).coalesce(1), dir)
        // two sentinels: wm computed at batch N's end drives eviction
        // in batch N+1, so the flush needs a batch after the bump
        Topic.produce(Seq((-1L, -1L, maxUs + 48 * hourUs))
          .toDF("user_id", "event_id", "t_us"), dir)
        Topic.produce(Seq((-1L, -1L, maxUs + 49 * hourUs))
          .toDF("user_id", "event_id", "t_us"), dir)
      }
      feed(ev.where(pmod(col("user_id"), lit(4)) === 0), s"$base/ta")
      feed(ev.where(pmod(col("user_id"), lit(8)) === 0), s"$base/tb")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, event_id BIGINT, t_us BIGINT")
      def side(dir: String, uid: String, eid: String, t: String) =
        Topic.stream(s, dir, maxFilesPerTrigger = Some(1))
          .select(from_json(col("value"), schema).as("j"))
          .select(col("j.user_id").as(uid), col("j.event_id").as(eid),
            timestamp_micros(col("j.t_us")).as(t))
      val l = side(s"$base/ta", "ua", "event_a", "t_a")
        .withWatermark("t_a", "1 hour")
      val r = side(s"$base/tb", "ub", "event_b", "t_b")
        .withWatermark("t_b", "1 hour")
      val joined = l.join(r,
        col("ua") === col("ub")
          && col("t_b") >= col("t_a")
          && col("t_b") < col("t_a") + expr("INTERVAL 12 HOURS")
          && col("event_a") =!= col("event_b"), "leftOuter")
        .select("ua", "event_a", "event_b")
      val q = withShufflePartitions(s, 8) {
        joined.writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .start()
      }
      q.awaitTermination()
      s.read.parquet(s"$base/out")
        .where(col("ua") >= 0)
        .select(col("event_a"), col("event_b"))
        .orderBy(col("event_a"), col("event_b").asc_nulls_first)
    }),

    // q85 — SQL MERGE INTO under the oracle (Q-g, until now golden-unit
    // only): seed a keyed store table from a third of orders through
    // DDL + INSERT, apply a CDC-shaped MERGE (delete 'F' rows, upsert
    // the rest at +1 price) from a temp-view source, read the final
    // state back through the catalog. The translated plan is the
    // store's native keyed merge — only buckets containing batch keys
    // are rewritten, the unmatched side is never scanned.
    "q85_merge_into" -> ((s, d) => {
      ensureCatalog(s)
      val tbl = "orders_dml_" + math.abs(d.hashCode).toString
      deleteRecursively(Paths.get(warehouse, "dml", tbl))
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $CatalogName.dml")
      s.sql(s"CREATE TABLE $CatalogName.dml.$tbl (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING) " +
        "TBLPROPERTIES('keys'='o_orderkey')")
      val orders = Tables.load(s, d, "orders")
      orders.where(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .createOrReplaceTempView("dml_seed")
      s.sql(s"INSERT INTO $CatalogName.dml.$tbl SELECT * FROM dml_seed")
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 1).as("o_totalprice"), col("o_orderstatus"),
          when(col("o_orderstatus") === "F", "d").otherwise("u").as("op"))
        .createOrReplaceTempView("dml_changes")
      s.sql(s"""MERGE INTO $CatalogName.dml.$tbl t USING dml_changes s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND NOT (s.op = 'd') THEN INSERT *""")
      s.sql(s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        s"FROM $CatalogName.dml.$tbl ORDER BY o_orderkey")
    }),

    // q157 — MERGE full-sync (WHEN NOT MATCHED BY SOURCE THEN
    // DELETE, the Delta-style "source is the whole truth" form):
    // after the merge the table must hold EXACTLY the source's rows —
    // upserts applied AND seed-only keys pruned. This is the one
    // merge branch that must look at the target, and the translation
    // reads target KEY COLUMNS only (left-anti against the batch
    // keys) before the ordinary keyed merge applies everything in
    // one commit; a leaked seed row or a lost upsert both
    // hash-mismatch.
    "q157_merge_sync" -> ((s, d) => {
      ensureCatalog(s)
      val tbl = "orders_sync_" + math.abs(d.hashCode).toString
      deleteRecursively(Paths.get(warehouse, "dml", tbl))
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $CatalogName.dml")
      s.sql(s"CREATE TABLE $CatalogName.dml.$tbl (o_orderkey BIGINT, " +
        "o_custkey BIGINT, o_totalprice DOUBLE) " +
        "TBLPROPERTIES('keys'='o_orderkey')")
      val orders = Tables.load(s, d, "orders")
      orders.where(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .createOrReplaceTempView("sync_seed")
      s.sql(s"INSERT INTO $CatalogName.dml.$tbl SELECT * FROM sync_seed")
      orders.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 5).as("o_totalprice"))
        .createOrReplaceTempView("sync_src")
      s.sql(s"""MERGE INTO $CatalogName.dml.$tbl t USING sync_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      s.sql(s"SELECT o_orderkey, o_custkey, " +
        s"round(o_totalprice, 6) AS o_totalprice " +
        s"FROM $CatalogName.dml.$tbl ORDER BY o_orderkey")
    }),

    // q89 — SQL UPDATE + DELETE lifecycle (the row-level DML next to
    // q85's MERGE): seed from events (event_id is the unique key),
    // UPDATE one value band, DELETE another, read the final state
    // back. Both statements translate to bucket-local keyed merges —
    // UPDATE scans only matching rows (filter pushed into the DSv2
    // scan) and upserts them back, DELETE merges just the matched
    // KEYS with op 'd'; the unmatched remainder is never rewritten.
    "q89_sql_update_delete" -> ((s, d) => {
      ensureCatalog(s)
      val tbl = "events_dml_" + math.abs(d.hashCode).toString
      deleteRecursively(Paths.get(warehouse, "dml", tbl))
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $CatalogName.dml")
      s.sql(s"CREATE TABLE $CatalogName.dml.$tbl (event_id BIGINT, " +
        "user_id BIGINT, value DOUBLE, event_type STRING) " +
        "TBLPROPERTIES('keys'='event_id')")
      Tables.load(s, d, "events")
        .select("event_id", "user_id", "value", "event_type")
        .createOrReplaceTempView("ev_seed")
      s.sql(s"INSERT INTO $CatalogName.dml.$tbl SELECT * FROM ev_seed")
      s.sql(s"UPDATE $CatalogName.dml.$tbl " +
        "SET value = value + 100, event_type = 'boosted' " +
        "WHERE value < CAST(0.2 AS DOUBLE)")
      s.sql(s"DELETE FROM $CatalogName.dml.$tbl " +
        "WHERE value >= CAST(0.9 AS DOUBLE) AND event_type = 'view'")
      s.sql("SELECT event_id, user_id, value, event_type " +
        s"FROM $CatalogName.dml.$tbl ORDER BY event_id")
    }),

    // q91 — the reference's ACTUAL wire format replayed VERBATIM: the
    // captured topic-log record values (JsonConverter
    // `{"schema",…,"payload":…}` framing, schemas.enable=true —
    // CapturedWire fixtures lifted byte-for-byte from the reference's
    // Kafka log), continued with framed update/delete records derived
    // from the same schema blocks plus a Debezium delete tombstone,
    // pushed through the REAL standing CdcJob. The embedded connect
    // schema drives a fully TYPED parse (user_id int32, created_at
    // io.debezium.time.MicroTimestamp -> TIMESTAMP) with zero sampling
    // inference and no caller-declared timestamp columns; the
    // tombstone must be skipped, not merged. Final state of both
    // routed tables under the oracle.
    "q91_connect_framed_replay" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-connect-wire-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base) // idempotent per run
      val acct = graft.cdc.CapturedWire.lines("cdc.commerce.account")
      val prod = graft.cdc.CapturedWire.lines("cdc.commerce.product")
      val tail = Seq(
        graft.cdc.CapturedWire.continuation(acct.head, "u",
          """{"user_id":2,"email":"bob@example.com","created_at":1757389556032031}""",
          """{"user_id":2,"email":"bob.new@example.com","created_at":1757389556032031}""",
          lsn = 22446700L, txId = 750L),
        graft.cdc.CapturedWire.continuation(acct.head, "d",
          """{"user_id":3,"email":"carol@example.com","created_at":1757389556032031}""",
          "null", lsn = 22446800L, txId = 751L),
        graft.cdc.CapturedWire.Tombstone, // post-delete compaction record
        graft.cdc.CapturedWire.continuation(prod.head, "u",
          """{"product_id":1,"product_name":"Live Edge Dining Table","created_at":1757389556033782}""",
          """{"product_id":1,"product_name":"Walnut Coffee Table","created_at":1757389556033782}""",
          lsn = 22446900L, txId = 752L))
      Topic.appendLines(s"$base/topic", acct ++ prod ++ tail)
      val q = graft.cdc.CdcJob(s"$base/topic", s"$base/wh", s"$base/cp",
        keyColsFor =
          { case "account" => Seq("user_id"); case _ => Seq("product_id") },
        trigger = Trigger.AvailableNow()).start(s)
      q.awaitTermination()
      def finalState(table: String, id: String, name: String) =
        UpsertTable(s, graft.cdc.CdcSink.targetPath(s"$base/wh", table)).read()
          .select(lit(table).as("tbl"), col(id).cast("int").as("id"),
            col(name).as("name"),
            // created_at landed as a real TIMESTAMP via the embedded
            // schema's MicroTimestamp — hash its exact micros
            unix_micros(col("created_at")).as("created_us"))
      finalState("account", "user_id", "email")
        .unionAll(finalState("product", "product_id", "product_name"))
        .orderBy("tbl", "id")
    }),

    // q347 — STREAMING QUANTILE SKETCH: q97's GK/KLL rank sketch as a
    // CONTINUOUS query — per-type percentile_approx accumulates
    // sketch state in the streaming agg across forced micro-batches
    // (the buffer merges commute across any batch split), the q250
    // harness pattern. Gate shape mirrors q97 exactly: the exact p50
    // is hashed and the STREAMED sketch's answer is asserted in-band
    // between the exact p45/p55 (a 50× cushion over the sketch's
    // rank-error guarantee) — the merged sketch's raw output is
    // partition-layout-specific, the band is not. At 100 TB the
    // streamed sketch is the only viable path: fixed-size state per
    // (type), one pass, no per-trigger sort.
    "q347_stream_quantiles" -> ((s, d) => {
      val sk = streamedEventAgg(s, d, "stream-gk",
        Seq("event_id", "ts", "event_type", "value"),
        "event_id BIGINT, ts BIGINT, event_type STRING, value DOUBLE") {
        parsed =>
          parsed.groupBy("event_type")
            .agg(expr("percentile_approx(value, 0.5D, 1000)").as("est"))
      }
      Tables.load(s, d, "events")
        .groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5D)"), 6).as("p50_exact"),
          expr("percentile(value, 0.45D)").as("__lo"),
          expr("percentile(value, 0.55D)").as("__hi"))
        .join(sk, "event_type")
        .select(col("event_type"), col("p50_exact"),
          (col("est") >= col("__lo") && col("est") <= col("__hi"))
            .as("est_in_band"))
        .orderBy("event_type")
    }),

    // q378 — STREAMING K-MEANS STEP: one full Lloyd iteration
    // computed AS A STREAM — every point assigns to its nearest
    // pinned centroid scan-side (exact integer d², ties to the
    // smallest id) and the per-centroid sufficient statistics
    // (n, Σx, Σy, Σd²) accumulate in the streaming agg across forced
    // micro-batches. The statistics are COMMUTATIVE, so the answer is
    // independent of any batch split — the property that makes
    // clustering streamable at all (contrast: sequential mini-batch
    // updates depend on arrival order, which no exactly-once replay
    // can pin) — and the updated centroids ⌊Σx/n⌋ + the inertia fall
    // out of the final state. Completes the streaming-operator family
    // with its first CLUSTERING member (sketches q102/q250/q347/q349,
    // CEP, sessions…). 2-D feature = (cents, hour-of-day·4000): the
    // spend-by-time-of-day segmentation. Fixed 4-row state; one pass.
    "q378_stream_kmeans_step" -> ((s, d) => {
      val d2 = KmeansC0.map { case (_, cx, cy) =>
        s"((x - ${cx}L) * (x - ${cx}L) + (y - ${cy}L) * (y - ${cy}L))" }
      val minD = s"least(${d2.mkString(", ")})"
      val cid = "case " + KmeansC0.indices
        .map(i => s"when ${d2(i)} = $minD then ${i}L").mkString(" ") + " end"
      val sk = streamedEventAgg(s, d, "stream-kmeans",
        Seq("event_id", "ts", "user_id", "value"),
        "event_id BIGINT, ts BIGINT, user_id BIGINT, value DOUBLE") {
        parsed =>
          parsed
            .withColumn("x", expr("cast(round(value * 100) as bigint)"))
            .withColumn("y", expr("((ts div 3600000000000) % 24) * 4000"))
            .withColumn("cid", expr(cid))
            .withColumn("d2", expr(minD))
            .groupBy("cid")
            .agg(count(lit(1)).as("n"), sum("x").as("sx"),
              sum("y").as("sy"),
              sum(expr("cast(d2 as decimal(38,0))")).as("inertia"))
      }
      sk.select(col("cid"), col("n"),
          expr("sx div n").as("cx1"), expr("sy div n").as("cy1"),
          expr("cast(inertia as bigint)").as("inertia"))
        .orderBy("cid")
    }),

    // q348 — WRITE-AUDIT-PUBLISH: the Iceberg WAP pattern on the
    // store's own commit machinery — every batch lands as a real
    // commit, an AUDIT query runs against the just-committed version,
    // and a failing audit ROLLS the table BACK before any reader
    // downstream of the publish step sees it (rollback is itself a
    // commit; history stays append-only and auditable). Three
    // batches: clean seed, clean increment (publishes), and a
    // poisoned increment (null event_type rows — the audit's
    // constraint) that must leave ZERO trace in the final state. The
    // gate hashes the per-batch audit log AND the final row count, so
    // a rollback that leaked rows, dropped good ones, or audited the
    // wrong version breaks the hash. The audit here validates the
    // FULL post-commit state (the strictest gate); the incremental
    // production form audits `readChanges(before, after)` — O(batch)
    // — and both ride the same publish/rollback, which are O(1)
    // manifest commits. This is the 100 TB WAP shape.
    "q348_wap_publish" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-wap-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val batches = Seq(
        ("seed", ev.where(col("event_id") % 4 === 0)),
        ("good", ev.where(col("event_id") % 4 === 1)),
        ("poisoned", ev.where(col("event_id") % 4 === 2)
          .withColumn("event_type",
            when(col("value") >= 100.0, lit(null).cast("string"))
              .otherwise(col("event_type")))))
      val t = UpsertTable(s, s"$base/wap_events")
      val log = batches.map { case (name, batch) =>
        val before = t.currentSnapshot.map(_.version)
        t.merge(batch, autoCreateKeys = Seq("event_id"), delta = true)
        val audited = t.read()
          .agg(count(lit(1)).as("rows"),
            sum(when(col("event_type").isNull, 1L).otherwise(0L))
              .as("nulls"))
          .head()
        val violations = audited.getLong(1)
        val published = violations == 0L
        if (!published) t.rollback(before.get)
        (name, batch.count(), violations, published,
          t.read().count())
      }
      import s.implicits._
      log.toDF("batch", "rows_in", "violations", "published",
          "table_rows_after")
        .orderBy("batch")
    }),

    // q372 — BRANCH/TAG REFS (WAP, branch style): the OTHER
    // write-audit-publish shape next to q348's rollback style —
    // writers advance the table HEAD commit by commit, readers
    // consume the `main` BRANCH ref, and the audit gate publishes by
    // FAST-FORWARDING the ref (O(1) metadata move, nothing rolled
    // back: the failed commit stays on the head for forensics,
    // invisible through the ref). A `baseline` TAG pins the seed
    // version immutably, and snapshot EXPIRY must honor both pins
    // (the Iceberg ref-retention rule) — the harness runs
    // expireSnapshots(0) after the flow and re-reads both refs
    // through it. Publish decisions are CONDITIONED on the actual
    // violation count (the q348 oracle contract), so a scale factor
    // whose poisoned slice is legitimately clean publishes in both
    // engines. Gate: closed-form row counts per ref + in-band
    // booleans; ref mechanics proven by RefSpec.
    "q372_store_branches" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-refs-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val t = UpsertTable(s, s"$base/ref_events")
      t.merge(ev.where(col("event_id") % 4 === 0),
        autoCreateKeys = Seq("event_id"), delta = true)
      t.createTag("baseline")
      t.createBranch("main")
      def auditAndPublish(batch: org.apache.spark.sql.DataFrame): Long = {
        t.merge(batch, delta = true)
        val violations = t.read()
          .agg(sum(when(col("event_type").isNull, 1L).otherwise(0L)))
          .head().getLong(0)
        if (violations == 0L) t.fastForward("main")
        violations
      }
      auditAndPublish(ev.where(col("event_id") % 4 === 1))
      auditAndPublish(ev.where(col("event_id") % 4 === 2)
        .withColumn("event_type",
          when(col("value") >= 100.0, lit(null).cast("string"))
            .otherwise(col("event_type"))))
      val published = t.readRef("main").count()
      val head = t.read().count()
      val tagRows = t.readRef("baseline").count()
      // expiry must not GC ref-pinned versions (retention 0 = expire
      // everything it legally can)
      t.expireSnapshots(retentionMs = 0L)
      val refsSurvive = t.readRef("baseline").count() == tagRows &&
        t.readRef("main").count() == published
      import s.implicits._
      Seq((published, head, tagRows, refsSurvive))
        .toDF("rows_published", "rows_head", "rows_tag",
          "refs_survive_expiry")
    }),

    // q371 — MERKLE CONTENT AUDIT: per-bucket commutative set hashes
    // over the store's logical rows (UpsertTable.bucketFingerprints —
    // the Iceberg manifest-checksum role done at ROW level), gating
    // three invariants a 100 TB table-integrity sweep lives on:
    // (1) LOCALITY — after a delta commit, exactly the buckets
    // holding batch keys change fingerprint (a changed untouched
    // bucket = corruption or nondeterministic read; an unchanged
    // touched bucket = lost update); (2) the ROOT fingerprint moves;
    // (3) INCREMENTALITY — fp(v2) − fp(v1) per bucket equals
    // Σhash(new rows) − Σhash(replaced rows) computed from the BATCH
    // KEYS ALONE, i.e. the audit that re-verifies a commit is
    // O(batch), never O(table) (the set hash is a sum, so the
    // difference telescopes). Bucket membership is layout arithmetic
    // the oracle can't replay, so the gate is the q149 convention:
    // closed-form row counts + in-band booleans, with the hash
    // machinery itself proven by MerkleAuditSpec (a single flipped
    // row must flip its bucket and the root).
    "q371_merkle_audit" -> ((s, d) => {
      val base = Paths.get(sys.props("java.io.tmpdir"),
        s"graft-merkle-${ProcessHandle.current().pid()}-${math.abs(d.hashCode)}")
      deleteRecursively(base)
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val t = UpsertTable(s, s"$base/merkle_events")
      t.merge(ev.where(col("event_id") % 3 === 0),
        autoCreateKeys = Seq("event_id"), delta = true)
      val v1 = t.currentSnapshot.get.version
      // sparse update batch with CHANGED values: every touched key's
      // row really changes, so touched buckets MUST move
      val batch2 = ev.where(col("event_id") % 97 === 0)
        .withColumn("value", col("value") + 1.0)
      t.merge(batch2, delta = true)
      val v2 = t.currentSnapshot.get.version
      val nb = t.currentSnapshot.get.numBuckets
      val fp1 = t.bucketFingerprints(Some(v1)).toDF("bucket", "n1", "f1")
      val fp2 = t.bucketFingerprints(Some(v2)).toDF("bucket", "n2", "f2")
      val joined = fp1.join(fp2, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("f1"), lit(0L).cast("decimal(38,0)")).as("f1"),
          coalesce(col("f2"), lit(0L).cast("decimal(38,0)")).as("f2"))
      val expected = batch2
        .withColumn("bucket", UpsertTable.bucketExpr(Seq("event_id"), nb))
        .select("bucket").distinct()
      val changed = joined.where(col("f1") =!= col("f2")).select("bucket")
      val changedMatch = changed.exceptAll(expected).isEmpty &&
        expected.exceptAll(changed).isEmpty
      val rootChanged = joined.agg(
        (sum("f1") =!= sum("f2")).as("rc")).head().getBoolean(0)
      // O(batch) incremental re-verification from the batch keys only
      val keys2 = batch2.select("event_id")
      def keyedFp(version: Long) = {
        val df = t.readVersion(version).join(keys2, "event_id")
        df.withColumn("__rh", UpsertTable.rowFingerprint(df.columns))
          .withColumn("bucket",
            UpsertTable.bucketExpr(Seq("event_id"), nb))
          .groupBy("bucket")
          .agg(sum(expr("cast(__rh as decimal(38,0))")).as("kf"))
      }
      val deltaExpected = keyedFp(v2).toDF("bucket", "kn")
        .join(keyedFp(v1).toDF("bucket", "ko"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("kn"), lit(0L).cast("decimal(38,0)")) -
            coalesce(col("ko"), lit(0L).cast("decimal(38,0)"))).as("dk"))
      val incrementalOk = joined
        .join(deltaExpected, Seq("bucket"), "full_outer")
        .select(
          (coalesce(col("f2"), lit(0L).cast("decimal(38,0)")) -
            coalesce(col("f1"), lit(0L).cast("decimal(38,0)"))).as("df"),
          coalesce(col("dk"), lit(0L).cast("decimal(38,0)")).as("dk"))
        .where(col("df") =!= col("dk")).isEmpty
      import s.implicits._
      Seq((t.readVersion(v1).count(), t.readVersion(v2).count(),
        changedMatch, rootChanged, incrementalOk))
        .toDF("rows_before", "rows_after", "changed_match",
          "root_changed", "incremental_ok")
    }),

    // q349 — STREAMING HLL DISTINCT: q21's HyperLogLog++ sketch as a
    // CONTINUOUS query — per-type approx_count_distinct(user_id)
    // accumulates sketch registers in the streaming agg across forced
    // micro-batches (register merges commute across any batch split),
    // completing the streaming-sketch family (q102 CMS, q250
    // Misra–Gries, q347 GK ranks). Gate shape mirrors q21: the exact
    // per-type distinct is hashed and the STREAMED sketch is asserted
    // within 4×rsd (20 %) of truth — the register layout is
    // engine-internal, the band is not. The estimate itself is
    // DETERMINISTIC given the data (HLL register merge is elementwise
    // max — commutative/idempotent across any batch split), so the
    // band only has to absorb fixture-to-fixture estimator error, and
    // 4×rsd (~99.99 % for a fresh draw) keeps a legitimate run from
    // failing the gate nondeterministically where 3×rsd (~99 %) left
    // a one-in-a-hundred refresh exposed. Fixed KiB state per type,
    // one pass; the exact leg exists only because the harness can
    // afford truth.
    "q349_stream_hll" -> ((s, d) => {
      val sk = streamedEventAgg(s, d, "stream-hll",
        Seq("event_id", "ts", "event_type", "user_id"),
        "event_id BIGINT, ts BIGINT, event_type STRING, user_id BIGINT") {
        parsed =>
          parsed.groupBy("event_type")
            .agg(approx_count_distinct(col("user_id")).as("est"))
      }
      Tables.load(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .join(sk, "event_type")
        .select(col("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users"))
            <= col("exact_users") * (4 * 0.05d)).as("est_in_band"))
        .orderBy("event_type")
    }),

    // q401 — LAZY BUCKET-SPEC EVOLUTION end-to-end under the oracle:
    // the Iceberg partition-spec-evolution analog ([[UpsertTable
    // .rebucketLazy]]) driven through the exact lifecycle a 100 TB
    // table lives (a one-shot rewrite is not an option there): merge
    // a third of the changelog under 8 buckets → metadata-only respec
    // to 32 → a second merge that MIGRATES its touched old-spec
    // buckets → a delta-merge layering current-spec tombstones over
    // still-old-spec bases (the dangerous interleaving) → read the
    // MIXED-layout table → compact (the mixed-spec closure folds the
    // whole old layout over) → read again through pure SQL. The gate:
    // the post-compact SQL read must equal the declarative changelog
    // answer, and an in-query require pins mixed-read ≡ compacted-read
    // (layout can never change query results). Batches partition the
    // KEY space (user_id mod 3), so per-key arrival order is
    // batch-respecting by construction.
    "q401_store_respec" -> ((s, d) => {
      ensureCatalog(s)
      val tableName = "events_respec_" + math.abs(d.hashCode).toString
      val location = Paths.get(warehouse, "cdc", tableName)
      deleteRecursively(location)
      val changelog = Tables.load(s, d, "events")
        .withColumn("__op",
          when(col("event_type") === "error", "d").otherwise("u"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
      val t = UpsertTable(s, location.toString)
      t.merge(changelog.where(pmod(col("user_id"), lit(3)) === 0),
        opCol = Some("__op"), orderCol = Some("__ord"),
        autoCreateKeys = Seq("user_id"), autoCreateBuckets = 8)
      t.rebucketLazy(32)
      t.merge(changelog.where(pmod(col("user_id"), lit(3)) === 1),
        opCol = Some("__op"), orderCol = Some("__ord"))
      t.merge(changelog.where(pmod(col("user_id"), lit(3)) === 2),
        opCol = Some("__op"), orderCol = Some("__ord"), delta = true)
      val mixedRead = t.read().select("user_id", "event_id").cache()
      val mixedCount = mixedRead.count() // also materializes the cache
      t.compact(1)
      require(t.currentSnapshot.get.files.forall(_.spec == 0),
        "compaction did not fold the old spec over")
      val compacted = t.read().select("user_id", "event_id")
      require(compacted.count() == mixedCount
          && compacted.except(mixedRead).isEmpty,
        "mixed-spec read diverged from the compacted read")
      mixedRead.unpersist()
      s.sql(s"SELECT user_id, event_id FROM $CatalogName.cdc.$tableName " +
        "ORDER BY user_id")
    })
  )

  /** Same answer as the q6 CDC-apply oracle: the store materialization
    * must agree with the declarative changelog-normalize SQL.
    */
  val oracleSql: Map[String, String] = Map(
    // the streamed cells must land the identical exact-integer PSI —
    // the batch twin's oracle verbatim
    "q231_stream_psi" -> AnalyticsQueries.oracleSql("q223_psi_drift"),
    // streamed cells ≡ batch cells (integer sums commute across any
    // batch split) ⇒ the q266 oracle gates the streaming path verbatim
    "q281_stream_cusum" -> AnalyticsQueries.oracleSql("q266_cusum_changepoint"),

    "q20_store_sql_roundtrip" ->
      ("SELECT user_id, event_id FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),

    // the streaming ingest must land exactly the q5 answer
    "q37_stream_ingest" ->
      ("SELECT user_id, event_id, event_type FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY user_id"),

    // the streamed daily-window aggregation must equal the batch
    // tumbling-window SQL (µs-precision day buckets, epoch-aligned UTC)
    "q44_stream_window" ->
      ("SELECT (epoch_ns(ts) // 1000) // 86400000000 * 86400000000 AS w_start, " +
        "event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS sv " +
        "FROM events GROUP BY 1, 2 ORDER BY w_start, event_type"),

    // the streamed sliding-window aggregation must equal the batch
    // expansion: each event replicated into the 3 epoch-aligned
    // (3-day, 1-day-slide) windows covering it
    "q94_stream_sliding" ->
      ("WITH e AS (SELECT event_type, value, " +
        "(epoch_ns(ts) // 1000) // 86400000000 AS day FROM events), " +
        "x AS (SELECT event_type, value, " +
        "(day - unnest(generate_series(0, 2))) * 86400000000 AS w_start " +
        "FROM e) " +
        "SELECT w_start, event_type, COUNT(*) AS n, " +
        "ROUND(SUM(value), 6) AS sv " +
        "FROM x GROUP BY 1, 2 ORDER BY w_start, event_type"),

    // the streamed native session windows must land exactly the q92
    // batch answer: an exactly-6h gap still merges (split only at
    // > 6h), session end = last event + gap
    "q98_stream_session_native" ->
      ("WITH o AS (SELECT user_id, value, epoch_ns(ts) // 1000 AS tus " +
        "FROM events), " +
        "m AS (SELECT *, CASE WHEN tus - lag(tus) OVER " +
        "(PARTITION BY user_id ORDER BY tus) > 21600000000 " +
        "THEN 1 ELSE 0 END AS brk FROM o), " +
        "s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id " +
        "ORDER BY tus ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS sid FROM m) " +
        "SELECT user_id, MIN(tus) AS s_start_us, " +
        "MAX(tus) + 21600000000 AS s_end_us, COUNT(*) AS n_events, " +
        "ROUND(CAST(SUM(value) AS DOUBLE), 6) AS sv " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, s_start_us"),

    // the streamed grid must equal a batch rebuild of the same 4×64
    // cells (cell-wise sums commute across batches), probed per type
    "q102_stream_cms" ->
      ("WITH js AS (SELECT unnest(range(0, 4)) AS j), " +
        "cells AS (SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) " +
        "|| ':' || event_type), 1, 8))::BIGINT % 64 AS cell, COUNT(*) AS c " +
        "FROM events, js GROUP BY 1, 2), " +
        "exact AS (SELECT event_type, COUNT(*) AS n FROM events " +
        "GROUP BY event_type), " +
        "ph AS (SELECT e.event_type, e.n, js.j, ('0x' || substr(md5(" +
        "CAST(js.j AS VARCHAR) || ':' || e.event_type), 1, 8))::BIGINT % 64 " +
        "AS cell FROM exact e, js) " +
        "SELECT ph.event_type, ph.n, CAST(MIN(c.c) AS BIGINT) AS est, " +
        "TRUE AS never_under FROM ph JOIN cells c USING (j, cell) " +
        "GROUP BY ph.event_type, ph.n ORDER BY ph.event_type"),

    // the ORC round-trip must equal the same aggregate over the
    // parquet original
    "q100_orc_roundtrip" ->
      ("SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 6) AS sv " +
        "FROM events WHERE event_type = 'click' " +
        "GROUP BY user_id ORDER BY user_id"),

    // the table after a full-sync merge IS the source: every %2 key
    // at the bumped price, nothing else
    "q157_merge_sync" ->
      ("SELECT o_orderkey, o_custkey, " +
        "round(o_totalprice + 5, 6) AS o_totalprice " +
        "FROM orders WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey"),

    // ONLY the recent half may be counted — a late row leaking into
    // the streamed aggregation state hash-mismatches here
    "q153_stream_late_drop" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 1000 AS t_us, event_type " +
        "FROM events), " +
        "b AS (SELECT min(t_us) AS mn, max(t_us) AS mx FROM e) " +
        "SELECT (t_us // 86400000000) * 86400000000 AS w_start, " +
        "event_type, COUNT(*) AS n FROM e, b " +
        "WHERE t_us >= mn + (mx - mn) // 2 " +
        "GROUP BY 1, 2 ORDER BY w_start, event_type"),

    // the changelog-normalize rule the database must hold after both
    // unordered micro-batches land
    "q152_jdbc_sink" ->
      ("WITH r AS (SELECT user_id, event_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events) " +
        "SELECT user_id, event_id, cents FROM r WHERE rn = 1 " +
        "ORDER BY user_id"),

    // layout contract booleans + exact row conservation; the sampled
    // range boundaries are asserted against each other in-band
    "q149_range_shards" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
        "TRUE AS sorted_within, TRUE AS disjoint, TRUE AS sharded " +
        "FROM events"),

    // watermark-bounded dedup must still land exactly one row per key
    "q150_stream_dedup_ttl" ->
      ("SELECT event_id, user_id, event_type FROM events " +
        "ORDER BY event_id"),

    // the batch window formulation the streamed top_k state must
    // reproduce exactly (ties: cents DESC, event_id ASC)
    "q147_stream_topk" ->
      ("WITH x AS (SELECT event_type, event_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "r AS (SELECT event_type, event_id, cents, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY cents DESC, event_id) AS rk " +
        "FROM x) " +
        "SELECT event_type, rk, event_id, cents FROM r WHERE rk <= 5 " +
        "ORDER BY event_type, rk"),

    // over the parquet ORIGINAL — any CSV write/read asymmetry on the
    // Spark side mismatches; length/md5 pin props byte fidelity
    "q145_csv_roundtrip" ->
      ("SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 6) AS sv, " +
        "CAST(SUM(length(props)) AS BIGINT) AS plen, " +
        "COUNT(DISTINCT md5(props)) AS n_props " +
        "FROM events WHERE event_type = 'purchase' " +
        "GROUP BY user_id ORDER BY user_id"),

    // the stream-stream join must land exactly the batch answer over
    // the same 25% user subset
    "q47_stream_stream_join" ->
      ("WITH o AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t " +
        "FROM events WHERE user_id % 4 = 0) " +
        "SELECT a.event_id AS event_a, b.event_id AS event_b " +
        "FROM o a JOIN o b ON a.user_id = b.user_id " +
        "AND b.t >= a.t AND b.t < a.t + 43200000000 " +
        "AND a.event_id <> b.event_id ORDER BY event_a, event_b"),

    // the chained day->week streamed aggregation must equal the direct
    // batch weekly aggregate (both layers epoch-aligned)
    "q90_stream_chained_aggs" ->
      ("WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type, " +
        "CAST(FLOOR(value) AS BIGINT) AS vi FROM events) " +
        "SELECT (tus // 604800000000) * 604800000000 AS w_start, " +
        "event_type, COUNT(*) AS n, CAST(SUM(vi) AS BIGINT) AS sv " +
        "FROM e GROUP BY 1, 2 ORDER BY w_start, event_type"),

    // the streamed outer join must land exactly the batch LEFT JOIN:
    // matched pairs plus a null row per never-matched left event
    // the streamed per-row running totals must equal the batch
    // unbounded-preceding window over the same µs total order
    "q179_stream_over" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events) " +
        "SELECT user_id, event_id, " +
        "CAST(row_number() OVER w AS BIGINT) AS rn, " +
        "CAST(sum(cents) OVER w AS BIGINT) AS rsum FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, rn"),

    // the streamed automaton must equal the batch run-length lowering
    // (q162's shape) over the same µs-truncated total order
    "q167_stream_cep" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t, " +
        "event_type FROM events), " +
        "r AS (SELECT *, CASE WHEN lag(event_type) OVER w " +
        "IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS nr FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "r2 AS (SELECT *, sum(nr) OVER " +
        "(PARTITION BY user_id ORDER BY t, event_id) AS run_id FROM r), " +
        "ra AS (SELECT user_id, run_id, max(event_type) AS etype, " +
        "count(*) AS len, min(t) AS run_start, max(t) AS run_end " +
        "FROM r2 GROUP BY 1, 2), " +
        "m AS (SELECT *, lead(etype) OVER w2 AS next_type, " +
        "lead(run_start) OVER w2 AS next_start FROM ra " +
        "WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)) " +
        "SELECT user_id, run_start AS first_click_us, " +
        "run_end AS last_click_us, len AS n_clicks, " +
        "next_start AS purchase_us FROM m " +
        "WHERE etype = 'click' AND len >= 2 AND next_type = 'purchase' " +
        "AND next_start - run_end <= 86400000000 " +
        "ORDER BY user_id, first_click_us"),

    // the run-length lowering with one more lead(): direct path =
    // next run is the purchase; via path = next run is a single
    // view/error and the run after it is the purchase — same WITHIN
    // anchor (purchase start − last click) on both
    "q200_stream_cep_alt" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t, " +
        "event_type FROM events), " +
        "r AS (SELECT *, CASE WHEN lag(event_type) OVER w " +
        "IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS nr FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)), " +
        "r2 AS (SELECT *, sum(nr) OVER " +
        "(PARTITION BY user_id ORDER BY t, event_id) AS run_id FROM r), " +
        "ra AS (SELECT user_id, run_id, max(event_type) AS etype, " +
        "count(*) AS len, min(t) AS run_start, max(t) AS run_end " +
        "FROM r2 GROUP BY 1, 2), " +
        "m AS (SELECT *, lead(etype, 1) OVER w2 AS t1, " +
        "lead(len, 1) OVER w2 AS l1, lead(run_start, 1) OVER w2 AS s1, " +
        "lead(etype, 2) OVER w2 AS t2, lead(run_start, 2) OVER w2 AS s2 " +
        "FROM ra WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)) " +
        "SELECT user_id, run_start AS first_click_us, " +
        "run_end AS last_click_us, len AS n_clicks, " +
        "CASE WHEN t1 = 'purchase' THEN NULL ELSE t1 END AS via_type, " +
        "CASE WHEN t1 = 'purchase' THEN s1 ELSE s2 END AS purchase_us " +
        "FROM m WHERE etype = 'click' AND len >= 2 AND (" +
        "(t1 = 'purchase' AND s1 - run_end <= 86400000000) OR " +
        "(t1 IN ('view', 'error') AND l1 = 1 AND t2 = 'purchase' " +
        "AND s2 - run_end <= 86400000000)) " +
        "ORDER BY user_id, first_click_us"),

    "q87_stream_outer_join" ->
      ("WITH l AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t " +
        "FROM events WHERE user_id % 4 = 0), " +
        "r AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t " +
        "FROM events WHERE user_id % 8 = 0) " +
        "SELECT l.event_id AS event_a, r.event_id AS event_b " +
        "FROM l LEFT JOIN r ON l.user_id = r.user_id " +
        "AND r.t >= l.t AND r.t < l.t + 43200000000 " +
        "AND l.event_id <> r.event_id " +
        "ORDER BY event_a, event_b NULLS FIRST"),

    // the streamed temporal join must equal the batch point-in-time
    // answer — same interval-form oracle as q128
    "q139_stream_temporal_join" ->
      AnalyticsQueries.oracleSql("q128_temporal_join"),

    // the per-batch stream-static join must equal the batch left join
    "q50_stream_static_join" ->
      ("WITH st AS (SELECT o_custkey AS user_id, COUNT(*) AS n_orders " +
        "FROM orders GROUP BY 1) " +
        "SELECT e.event_id, e.user_id, COALESCE(st.n_orders, 0) AS n_orders " +
        "FROM events e LEFT JOIN st USING (user_id) ORDER BY event_id"),

    // the envelope roundtrip must land exactly the q20/q6 answer:
    // latest row per user in (lsn=ts, txId=event_id) order, deleted
    // keys (last op 'd') absent
    "q53_cdc_envelope_roundtrip" ->
      ("SELECT user_id, event_id FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),

    // snapshot ∘ tail must equal one sequential apply of the history
    "q54_changelog_source" ->
      ("SELECT user_id, event_id FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),

    // both epochs closed-form: 'crashed' = batch-1 state on BOTH
    // tables (the torn window must be invisible), 'replayed' = batch 2
    // applied everywhere (acct: evens +5, %3 keys deleted; prof: odds
    // +1)
    "q381_consistent_cdc_read" ->
      ("WITH su AS (SELECT user_id, " +
        "MAX(CAST(round(value * 100) AS BIGINT)) AS cents " +
        "FROM events WHERE event_type = 'signup' GROUP BY 1) " +
        "SELECT * FROM (" +
        "SELECT 'crashed' AS epoch, 'acct' AS tbl, user_id, cents AS v " +
        "FROM su " +
        "UNION ALL SELECT 'crashed', 'prof', user_id, user_id % 100 " +
        "FROM su " +
        "UNION ALL SELECT 'replayed', 'acct', user_id, " +
        "CASE WHEN user_id % 2 = 0 THEN cents + 5 ELSE cents END " +
        "FROM su WHERE user_id % 3 <> 0 " +
        "UNION ALL SELECT 'replayed', 'prof', user_id, " +
        "user_id % 100 + CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END " +
        "FROM su) ORDER BY epoch, tbl, user_id"),

    // the SQL-only consumer sees the same two epochs
    "q387_sql_consistent_read" ->
      ("WITH su AS (SELECT user_id, " +
        "MAX(CAST(round(value * 100) AS BIGINT)) AS cents " +
        "FROM events WHERE event_type = 'signup' GROUP BY 1) " +
        "SELECT * FROM (" +
        "SELECT 'crashed' AS epoch, 'acct' AS tbl, user_id, cents AS v " +
        "FROM su " +
        "UNION ALL SELECT 'crashed', 'prof', user_id, user_id % 100 " +
        "FROM su " +
        "UNION ALL SELECT 'replayed', 'acct', user_id, " +
        "CASE WHEN user_id % 2 = 0 THEN cents + 5 ELSE cents END " +
        "FROM su WHERE user_id % 3 <> 0 " +
        "UNION ALL SELECT 'replayed', 'prof', user_id, " +
        "user_id % 100 + CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END " +
        "FROM su) ORDER BY epoch, tbl, user_id"),

    // the feed-standing streaming aggregation must equal the batch
    // replay of each slice's normalized changelog (one winner row per
    // key per commit; distinct aggs are unsupported in streaming, so
    // the key-range min/max stand in as the per-cell key evidence)
    "q312_stream_feed_agg" ->
      ("WITH s AS (SELECT user_id, event_id, event_type, ts, " +
        "event_id % 3 AS slice FROM events), " +
        "w AS (SELECT user_id, slice, event_type, row_number() OVER (" +
        "PARTITION BY slice, user_id ORDER BY ts DESC, event_id DESC) " +
        "AS rn FROM s), " +
        "n AS (SELECT slice, user_id, CASE WHEN event_type = 'error' " +
        "THEN 'd' ELSE 'u' END AS op FROM w WHERE rn = 1) " +
        "SELECT CAST(slice + 2 AS BIGINT) AS _commit_version, " +
        "op AS _change_op, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(min(user_id) AS BIGINT) AS min_key, " +
        "CAST(max(user_id) AS BIGINT) AS max_key FROM n " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),

    // the streamed-and-merged downstream table must equal the batch
    // changelog replay: per user the (slice, ts, event_id) winner
    // decides, 'error' rows are tombstones
    "q301_stream_changefeed" ->
      ("WITH r AS (SELECT user_id, event_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY event_id % 3 DESC, ts DESC, event_id DESC) AS rn " +
        "FROM events) " +
        "SELECT user_id, event_id, event_type FROM r " +
        "WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),

    // the bucketed join must equal the plain join + aggregate
    "q51_bucketed_join" ->
      ("SELECT e.user_id, COUNT(*) AS n_pairs FROM events e " +
        "JOIN orders o ON o.o_custkey = e.user_id " +
        "GROUP BY e.user_id ORDER BY e.user_id"),

    // the pruned scan over the z-clustered table must return the full
    // predicate answer — skipping may only drop files, never rows
    "q66_zorder_scan" ->
      ("SELECT event_id, user_id, round(value, 6) AS value FROM events " +
        "WHERE user_id BETWEEN 10 AND 20 ORDER BY event_id"),

    // the partition-pruned join must return exactly the unpruned
    // answer: priorities with an odd order count, counted and summed
    "q81_dpp" ->
      ("WITH dim AS (SELECT o_orderpriority FROM orders " +
        "GROUP BY o_orderpriority HAVING COUNT(*) % 2 = 1) " +
        "SELECT o.o_orderpriority, COUNT(*) AS n, " +
        "CAST(SUM(CAST(FLOOR(o.o_totalprice) AS BIGINT)) AS BIGINT) AS sv " +
        "FROM orders o JOIN dim USING (o_orderpriority) " +
        "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"),

    // the streamed double-produced topic must dedup back to exactly
    // the events table
    "q69_stream_dedup" ->
      ("SELECT event_id, user_id, event_type FROM events ORDER BY event_id"),

    // the streamed sessions must equal batch sessionization over the
    // same ms-truncated event times (q42's shape at ms precision)
    "q75_stream_sessions" ->
      ("WITH o AS (SELECT user_id, " +
        "epoch_ns(ts) // 1000000 AS tms FROM events), " +
        "b AS (SELECT user_id, tms, CASE WHEN tms - lag(tms) OVER " +
        "(PARTITION BY user_id ORDER BY tms) > 21600000 " +
        "THEN 1 ELSE 0 END AS brk FROM o), " +
        "sx AS (SELECT user_id, tms, CAST(SUM(brk) OVER " +
        "(PARTITION BY user_id ORDER BY tms " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS session_idx FROM b) " +
        "SELECT user_id, session_idx, COUNT(*) AS n_events, " +
        "MIN(tms) AS ts_start_ms, MAX(tms) AS ts_end_ms FROM sx " +
        "GROUP BY user_id, session_idx ORDER BY user_id, session_idx"),

    // the incrementally-maintained view must equal the from-scratch
    // aggregate of the final state
    // the erased users simply never existed; the audit flags are
    // literal TRUE — the engine's feed must earn them
    "q190_gdpr_erasure" ->
      ("SELECT user_id, count(*) AS n, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) " +
        "AS sum_cents, TRUE AS feed_complete, TRUE AS feed_all_deletes " +
        "FROM events WHERE user_id % 10 <> 0 " +
        "GROUP BY user_id ORDER BY user_id"),

    // both axes recomputed closed-form: v1 = the pre-cut change
    // subset, now = all changes; valid time = the interval rule
    // the three commits replayed relationally: last-write-wins per key
    // per wave (row_number over (ts, cents) DESC — max(struct)'s tie
    // rule), upsert overlay by coalesce, the delete as a predicate
    // the streamed bottom-k sample must equal the batch bottom-k of
    // the same md5 keys over the full stream (h asc, id asc)
    "q383_stream_bottomk_sample" ->
      ("WITH h AS (SELECT event_id, ('0x' || substr(md5('bk:' || " +
        "CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM events) " +
        "SELECT CAST(row_number() OVER (ORDER BY h, event_id) AS BIGINT) " +
        "AS rk, event_id, h FROM h ORDER BY h, event_id LIMIT 20"),

    // exact counts reproduce the heavy-hitter row; theorem booleans
    // are TRUE literals (the q243 contract, threshold N/4 at k=3)
    "q250_stream_misra_gries" ->
      ("WITH t AS (SELECT CASE WHEN event_id % 2 = 0 THEN 'hot' " +
        "ELSE event_type END AS tok FROM events), " +
        "e AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1), " +
        "nn AS (SELECT COUNT(*) AS n FROM t) " +
        "SELECT tok, CAST(cnt AS BIGINT) AS cnt, CAST(n AS BIGINT) AS n, " +
        "TRUE AS in_sketch, TRUE AS bounds_ok " +
        "FROM e CROSS JOIN nn WHERE cnt * 4 > n ORDER BY tok"),

    // incremental ≡ full rebuild under frozen centroids: the one-shot
    // assignment + probed search replay (q230's CTEs), index sizes
    // from the 80% cut
    "q244_incremental_ivf" -> {
      val cos = (a: String, b: String) =>
        s"round(list_dot_product($a, $b) / " +
          s"(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"
      "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings), " +
        "q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 5), " +
        "ex AS (SELECT qid, vec_id FROM (SELECT q.qid, e.vec_id, " +
        s"row_number() OVER (PARTITION BY q.qid ORDER BY " +
        s"${cos("e.emb", "q.qemb")} DESC, e.vec_id) AS rn " +
        "FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10), " +
        "c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16), " +
        "assign AS (SELECT vec_id, emb, cid AS bucket FROM (" +
        "SELECT e.vec_id, e.emb, c.cid, row_number() OVER (PARTITION BY " +
        s"e.vec_id ORDER BY ${cos("e.emb", "c.cemb")} DESC, c.cid) AS rn " +
        "FROM e, c) WHERE rn = 1), " +
        "probes AS (SELECT qid, qemb, cid AS bucket FROM (" +
        "SELECT q.qid, q.qemb, c.cid, row_number() OVER (PARTITION BY " +
        s"q.qid ORDER BY ${cos("q.qemb", "c.cemb")} DESC, c.cid) AS rn " +
        "FROM q, c) WHERE rn <= 4), " +
        "ap AS (SELECT qid, vec_id FROM (SELECT p.qid, a.vec_id, " +
        s"row_number() OVER (PARTITION BY p.qid ORDER BY " +
        s"${cos("a.emb", "p.qemb")} DESC, a.vec_id) AS rn " +
        "FROM assign a JOIN probes p ON a.bucket = p.bucket " +
        "WHERE a.vec_id <> p.qid) WHERE rn <= 10), " +
        "i AS (SELECT ex.qid, count(*) AS inter FROM ex " +
        "JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id " +
        "GROUP BY 1), " +
        "sz AS (SELECT CAST(COUNT(*) * 4 // 5 AS BIGINT) AS n1, " +
        "CAST(COUNT(*) AS BIGINT) AS n2 FROM e) " +
        "SELECT ne.qid, ne.n_exact, na.n_approx, " +
        "CAST(coalesce(i.inter, 0) AS BIGINT) AS inter, " +
        "CAST(coalesce(i.inter, 0) AS BIGINT) * 1000000 // ne.n_exact " +
        "AS recall_micro, sz.n1 AS n_index_v1, sz.n2 AS n_index_v2 FROM " +
        "(SELECT qid, CAST(count(*) AS BIGINT) AS n_exact FROM ex " +
        "GROUP BY 1) ne " +
        "JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS n_approx FROM ap " +
        "GROUP BY 1) na ON na.qid = ne.qid " +
        "LEFT JOIN i ON i.qid = ne.qid CROSS JOIN sz ORDER BY ne.qid"
    },

    "q210_snapshot_diff" ->
      ("WITH su AS (SELECT user_id, epoch_ns(ts) AS t, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events " +
        "WHERE event_type = 'signup'), " +
        "b AS (SELECT min(t) + (max(t) - min(t)) // 2 AS cut FROM su), " +
        "w1 AS (SELECT user_id, cents AS attr FROM (SELECT su.*, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY t DESC, cents DESC) AS rn FROM su, b WHERE t < cut) " +
        "WHERE rn = 1), " +
        "w2 AS (SELECT user_id, cents AS attr FROM (SELECT su.*, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY t DESC, cents DESC) AS rn FROM su, b WHERE t >= cut) " +
        "WHERE rn = 1), " +
        "m AS (SELECT coalesce(w2.user_id, w1.user_id) AS user_id, " +
        "coalesce(w2.attr, w1.attr) AS attr FROM w1 " +
        "FULL OUTER JOIN w2 ON w1.user_id = w2.user_id), " +
        "v2 AS (SELECT * FROM m WHERE user_id % 10 <> 3) " +
        "SELECT coalesce(v2.user_id, w1.user_id) AS user_id, " +
        "CASE WHEN w1.user_id IS NULL THEN 'added' " +
        "WHEN v2.user_id IS NULL THEN 'removed' " +
        "ELSE 'changed' END AS change, " +
        "w1.attr AS attr_v1, v2.attr AS attr_v2 " +
        "FROM w1 FULL OUTER JOIN v2 ON w1.user_id = v2.user_id " +
        "WHERE w1.user_id IS NULL OR v2.user_id IS NULL " +
        "OR w1.attr <> v2.attr ORDER BY user_id"),

    "q188_bitemporal" ->
      ("WITH ch AS (SELECT user_id, epoch_ns(ts) AS t, max(value) AS attr " +
        "FROM events WHERE event_type = 'signup' GROUP BY 1, 2), " +
        "cut AS (SELECT min(t) + (max(t) - min(t)) // 2 AS c FROM ch), " +
        "v1 AS (SELECT user_id, attr, t AS vf, " +
        "lead(t) OVER (PARTITION BY user_id ORDER BY t) AS vt " +
        "FROM ch WHERE t < (SELECT c FROM cut)), " +
        "vn AS (SELECT user_id, attr, t AS vf, " +
        "lead(t) OVER (PARTITION BY user_id ORDER BY t) AS vt FROM ch), " +
        "p AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT p.event_id, p.user_id, " +
        "round(a.attr, 6) AS attr_v1, round(b.attr, 6) AS attr_now " +
        "FROM p " +
        "LEFT JOIN v1 a ON p.user_id = a.user_id AND a.vf <= p.t " +
        "AND (a.vt IS NULL OR p.t < a.vt) " +
        "LEFT JOIN vn b ON p.user_id = b.user_id AND b.vf <= p.t " +
        "AND (b.vt IS NULL OR p.t < b.vt) " +
        "ORDER BY p.event_id"),

    // q173's closed form + the dim-only +7 round
    "q180_catchup_join" ->
      ("WITH ae AS (SELECT event_id, user_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "af AS (SELECT event_id, user_id, " +
        "CASE WHEN event_id % 2 = 0 AND event_id < 1000 THEN cents + 10 " +
        "ELSE cents END AS cents FROM ae " +
        "WHERE NOT (event_id % 2 = 0 AND event_id >= 1000 " +
        "AND event_id < 2000)), " +
        "bf AS (SELECT user_id, user_id * 10 + 1 + " +
        "CASE WHEN user_id % 6 = 0 THEN 5 ELSE 0 END + " +
        "CASE WHEN user_id % 7 = 0 THEN 7 ELSE 0 END AS attr " +
        "FROM (SELECT DISTINCT user_id FROM events) " +
        "WHERE user_id % 5 <> 0) " +
        "SELECT af.event_id, af.user_id, af.cents, bf.attr " +
        "FROM af LEFT JOIN bf ON af.user_id = bf.user_id " +
        "ORDER BY af.event_id"),

    // the maintained join must equal the from-scratch LEFT JOIN of
    // the two final states (dim-deleted users' facts carry NULL attr)
    "q173_incremental_join" ->
      ("WITH ae AS (SELECT event_id, user_id, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "af AS (SELECT event_id, user_id, " +
        "CASE WHEN event_id % 2 = 0 AND event_id < 1000 THEN cents + 10 " +
        "ELSE cents END AS cents FROM ae " +
        "WHERE NOT (event_id % 2 = 0 AND event_id >= 1000 " +
        "AND event_id < 2000)), " +
        "bf AS (SELECT user_id, user_id * 10 + 1 + " +
        "CASE WHEN user_id % 6 = 0 THEN 5 ELSE 0 END AS attr " +
        "FROM (SELECT DISTINCT user_id FROM events) " +
        "WHERE user_id % 5 <> 0) " +
        "SELECT af.event_id, af.user_id, af.cents, bf.attr " +
        "FROM af LEFT JOIN bf ON af.user_id = bf.user_id " +
        "ORDER BY af.event_id"),

    "q76_incremental_view" ->
      ("WITH base AS (SELECT event_id, event_type, " +
        "CAST(FLOOR(value) AS BIGINT) AS vi FROM events), " +
        "final AS (SELECT event_id, event_type, " +
        "CASE WHEN event_id % 2 = 0 AND event_id < 1000 THEN vi + 10 " +
        "ELSE vi END AS vi FROM base " +
        "WHERE NOT (event_id % 2 = 0 AND event_id >= 1000 " +
        "AND event_id < 2000)) " +
        "SELECT event_type, COUNT(*) AS n, CAST(SUM(vi) AS DOUBLE) AS sv " +
        "FROM final GROUP BY event_type ORDER BY event_type"),

    // the change feed must equal each commit's normalized changelog:
    // per-key last row within its half, error rows as 'd'
    "q70_change_feed" ->
      ("WITH halves AS (SELECT *, event_id % 2 AS h FROM events), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h, user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM halves) " +
        "SELECT user_id, event_id, event_type, " +
        "CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS _change_op, " +
        "h + 1 AS batch_no FROM r WHERE rn = 1 ORDER BY batch_no, user_id"),

    // identical feed semantics to q70 — the TVF must not change one row
    "q325_sql_table_changes" ->
      ("WITH halves AS (SELECT *, event_id % 2 AS h FROM events), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY h, user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM halves) " +
        "SELECT user_id, event_id, event_type, " +
        "CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS _change_op, " +
        "h + 1 AS batch_no FROM r WHERE rn = 1 ORDER BY batch_no, user_id"),

    // the merged table must equal the set algebra of the MERGE:
    // seed rows untouched by the batch, plus the batch's non-delete
    // rows (matched updates and unmatched inserts carry the same
    // values under whole-row upsert semantics)
    "q85_merge_into" ->
      ("WITH t0 AS (SELECT o_orderkey, o_custkey, o_totalprice, " +
        "o_orderstatus FROM orders WHERE o_orderkey % 3 = 0), " +
        "s AS (SELECT o_orderkey, o_custkey, o_totalprice + 1 AS o_totalprice, " +
        "o_orderstatus, CASE WHEN o_orderstatus = 'F' THEN 'd' ELSE 'u' END " +
        "AS op FROM orders WHERE o_orderkey % 2 = 0) " +
        "SELECT t0.o_orderkey, t0.o_custkey, t0.o_totalprice, t0.o_orderstatus " +
        "FROM t0 LEFT JOIN s ON t0.o_orderkey = s.o_orderkey " +
        "WHERE s.o_orderkey IS NULL " +
        "UNION ALL SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM s WHERE op <> 'd' ORDER BY o_orderkey"),

    // the UPDATE-then-DELETE lifecycle must equal the same algebra
    // applied declaratively (update first, delete evaluated on the
    // updated state — statement order matters and both engines agree)
    "q89_sql_update_delete" ->
      ("WITH upd AS (SELECT event_id, user_id, " +
        "CASE WHEN value < CAST(0.2 AS DOUBLE) THEN value + 100 " +
        "ELSE value END AS value, " +
        "CASE WHEN value < CAST(0.2 AS DOUBLE) THEN 'boosted' " +
        "ELSE event_type END AS event_type FROM events) " +
        "SELECT event_id, user_id, value, event_type FROM upd " +
        // COALESCE(..., FALSE) mirrors DELETE semantics: a NULL
        // predicate keeps the row (DELETE doesn't match it), while a
        // bare NOT(NULL) would drop it from the oracle
        "WHERE NOT COALESCE(value >= CAST(0.9 AS DOUBLE) " +
        "AND event_type = 'view', FALSE) " +
        "ORDER BY event_id"),

    // the captured-wire replay has a closed-form answer: the captured
    // snapshot rows (reference seed data) after the framed
    // update/delete continuation — user 2's new email, user 3 gone,
    // product 1 renamed; created_us is each row's verbatim
    // MicroTimestamp payload value round-tripped through TIMESTAMP
    "q91_connect_framed_replay" ->
      ("SELECT * FROM (VALUES " +
        "('account', 1, 'alice@example.com', 1757389556032031), " +
        "('account', 2, 'bob.new@example.com', 1757389556032031), " +
        "('product', 1, 'Walnut Coffee Table', 1757389556033782), " +
        "('product', 2, 'Simple Teak Dining Chair', 1757389556033782)" +
        ") AS t(tbl, id, name, created_us) ORDER BY tbl, id"),

    // same q97 convention: exact p50 hashed, sketch asserted in-band
    // (band membership is deterministic; the sketch's raw output is
    // partition-layout-specific and never hashed)
    "q347_stream_quantiles" ->
      ("SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) " +
        "AS p50_exact, TRUE AS est_in_band FROM events " +
        "GROUP BY event_type ORDER BY event_type"),

    // the WAP flow has a closed-form answer from the batch splits:
    // the poisoned batch's violations are its value ≥ 100 rows and
    // its commit must vanish from the final count. publish/rollback
    // for that batch is CONDITIONED on v — a scale factor whose
    // event_id%4=2 slice happens to carry no value ≥ 100 row makes
    // the batch legitimately clean (it publishes, rows stay), and the
    // oracle must agree with a correct implementation rather than
    // hardcoding the poisoned outcome of the current fixtures
    "q348_wap_publish" ->
      ("WITH c AS (SELECT " +
        "SUM(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS s, " +
        "SUM(CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END) AS g, " +
        "SUM(CASE WHEN event_id % 4 = 2 THEN 1 ELSE 0 END) AS p, " +
        "SUM(CASE WHEN event_id % 4 = 2 AND value >= 100.0 THEN 1 " +
        "ELSE 0 END) AS v FROM events) " +
        "SELECT * FROM (" +
        "SELECT 'good' AS batch, CAST(g AS BIGINT) AS rows_in, " +
        "CAST(0 AS BIGINT) AS violations, TRUE AS published, " +
        "CAST(s + g AS BIGINT) AS table_rows_after FROM c " +
        "UNION ALL SELECT 'poisoned', CAST(p AS BIGINT), " +
        "CAST(v AS BIGINT), v = 0, " +
        "CAST(CASE WHEN v = 0 THEN s + g + p ELSE s + g END AS BIGINT) " +
        "FROM c " +
        "UNION ALL SELECT 'seed', CAST(s AS BIGINT), " +
        "CAST(0 AS BIGINT), TRUE, CAST(s AS BIGINT) FROM c" +
        ") ORDER BY batch"),

    // the identical Lloyd step in closed form: same pinned centroids,
    // same exact-integer d² argmin with smallest-id ties, same
    // floored means — batch-split invariance means the batch SQL IS
    // the streamed answer
    "q378_stream_kmeans_step" -> {
      val d2 = KmeansC0.map { case (_, cx, cy) =>
        s"((x - $cx) * (x - $cx) + (y - $cy) * (y - $cy))" }
      val minD = s"least(${d2.mkString(", ")})"
      val cid = "CASE " + KmeansC0.indices
        .map(i => s"WHEN ${d2(i)} = $minD THEN $i").mkString(" ") + " END"
      "WITH p AS (SELECT CAST(round(value * 100) AS BIGINT) AS x, " +
        "((epoch_ns(ts) // 3600000000000) % 24) * 4000 AS y " +
        "FROM events), " +
        s"a AS (SELECT x, y, $cid AS cid, $minD AS d2 FROM p) " +
        "SELECT CAST(cid AS BIGINT) AS cid, COUNT(*) AS n, " +
        "CAST(SUM(x) // COUNT(*) AS BIGINT) AS cx1, " +
        "CAST(SUM(y) // COUNT(*) AS BIGINT) AS cy1, " +
        "CAST(SUM(d2::HUGEINT) AS BIGINT) AS inertia " +
        "FROM a GROUP BY cid ORDER BY cid"
    },

    // closed-form per-ref counts and exact cents sums from the batch
    // splits: head sees 3 slices, the published branch 2, the tag 1
    "q375_sql_ref_read" ->
      ("WITH c AS (SELECT event_id % 4 AS m, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events " +
        "WHERE event_id % 4 <= 2) " +
        "SELECT * FROM (" +
        "SELECT 'head' AS ref, COUNT(*) AS n, " +
        "CAST(SUM(cents) AS BIGINT) AS sum_cents FROM c " +
        "UNION ALL SELECT 'main', COUNT(*), CAST(SUM(cents) AS BIGINT) " +
        "FROM c WHERE m <= 1 " +
        "UNION ALL SELECT 'seed', COUNT(*), CAST(SUM(cents) AS BIGINT) " +
        "FROM c WHERE m = 0) ORDER BY ref"),

    // closed-form per-ref row counts from the batch splits, publish
    // conditioned on the poisoned slice's actual violation count
    // (the q348 contract); ref mechanics live in RefSpec
    "q372_store_branches" ->
      ("WITH c AS (SELECT " +
        "SUM(CASE WHEN event_id % 4 = 0 THEN 1 ELSE 0 END) AS s, " +
        "SUM(CASE WHEN event_id % 4 = 1 THEN 1 ELSE 0 END) AS g, " +
        "SUM(CASE WHEN event_id % 4 = 2 THEN 1 ELSE 0 END) AS p, " +
        "SUM(CASE WHEN event_id % 4 = 2 AND value >= 100.0 THEN 1 " +
        "ELSE 0 END) AS v FROM events) " +
        "SELECT CAST(CASE WHEN v = 0 THEN s + g + p ELSE s + g END " +
        "AS BIGINT) AS rows_published, " +
        "CAST(s + g + p AS BIGINT) AS rows_head, " +
        "CAST(s AS BIGINT) AS rows_tag, " +
        "TRUE AS refs_survive_expiry FROM c"),

    // q149 convention: closed-form row counts from the batch splits,
    // layout-dependent invariants asserted in-band (oracle emits
    // TRUE; MerkleAuditSpec proves the hash machinery bites)
    "q371_merkle_audit" ->
      ("SELECT CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS rows_before, " +
        "CAST(SUM(CASE WHEN event_id % 3 = 0 OR event_id % 97 = 0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS rows_after, " +
        "TRUE AS changed_match, TRUE AS root_changed, " +
        "TRUE AS incremental_ok FROM events"),

    // same q21 convention: exact distinct hashed, streamed sketch
    // asserted in the 4×rsd band (the oracle emits TRUE)
    "q349_stream_hll" ->
      ("SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, " +
        "TRUE AS est_in_band FROM events " +
        "GROUP BY event_type ORDER BY event_type"),

    // layout evolution can never change results: the respec lifecycle
    // must land exactly the q20 declarative changelog answer
    "q401_store_respec" ->
      ("SELECT user_id, event_id FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id")
  )
}
