package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.UpsertTable
import graft.streaming.Topic

/** Golden CDC replay (FIXTURES.md §4): the SERIALIZED Debezium JSON
  * envelopes of seed + manual/001-003 — not pre-parsed tuples — pushed
  * through the one streaming entry point, landing BOTH tables with
  * routing, auto-create, micro-timestamp conversion and the delete
  * pass. Expected states: {3} → {5} → {5, emily→emma} → {0}.
  */
class CdcSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private var lsn = 22446616L // observed base LSN from connect.offsets

  private def env(table: String, op: String, before: String, after: String): String = {
    lsn += 8
    val keyCol = if (table == "account") "user_id" else "product_id"
    s"""{"before":$before,"after":$after,""" +
      s""""source":{"version":"3.2.1.Final","connector":"postgresql","name":"cdc",""" +
      s""""ts_ms":1757389556000,"snapshot":"false","db":"postgres","sequence":"[]",""" +
      s""""ts_us":1757389556000000,"ts_ns":1757389556000000000,""" +
      s""""schema":"commerce","table":"$table","txId":748,"lsn":$lsn,"xmin":null},""" +
      s""""transaction":null,"op":"$op","ts_ms":1757389556100,""" +
      s""""ts_us":1757389556100000,"ts_ns":1757389556100000000}"""
  }

  private def account(id: Int, email: String): String =
    s"""{"user_id":$id,"email":"$email","created_at":1757389556032031}"""

  private def product(id: Int, name: String): String =
    s"""{"product_id":$id,"product_name":"$name","created_at":1757389556032031}"""

  private val keyFor: String => Seq[String] = {
    case "account" => Seq("user_id")
    case "product" => Seq("product_id")
  }

  test("golden envelope replay: seed + manual/001-003 through one entry point") {
    val base = Files.createTempDirectory("graft-cdc")
    val topic = s"$base/topic"
    val job = CdcJob(
      topicDir = topic,
      warehouseDir = s"$base/warehouse",
      checkpointDir = s"$base/checkpoint",
      keyColsFor = keyFor,
      microTsCols = Map(
        "account" -> Seq("created_at"), "product" -> Seq("created_at")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))

    def accounts: Map[Int, String] = {
      val t = UpsertTable(spark, CdcSink.targetPath(job.warehouseDir, "account"))
      if (!t.exists) Map.empty
      else t.read().select("user_id", "email").collect()
        .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
    }

    // batch 1: snapshot — r ×3 accounts, r ×2 products (seed/000+001)
    Topic.appendLines(topic, Seq(
      env("account", "r", "null", account(1, "alice@example.com")),
      env("account", "r", "null", account(2, "bob@example.com")),
      env("account", "r", "null", account(3, "carol@example.com")),
      env("product", "r", "null", product(1, "Live Edge Dining Table")),
      env("product", "r", "null", product(2, "Simple Teak Dining Chair"))))
    val q = job.start(spark)
    q.processAllAvailable()
    assert(accounts === Map(1 -> "alice@example.com", 2 -> "bob@example.com",
      3 -> "carol@example.com"))

    val productTable = UpsertTable(spark, CdcSink.targetPath(job.warehouseDir, "product"))
    assert(productTable.read().count() === 2)
    assert(productTable.keyCols === Seq("product_id"))
    // MicroTimestamp materialized as a real timestamp (FIXTURES.md §3)
    assert(productTable.schema("created_at").dataType === TimestampType)

    // batch 2: manual/001 — insert derek + emily
    Topic.appendLines(topic, Seq(
      env("account", "c", "null", account(4, "derek@example.com")),
      env("account", "c", "null", account(5, "emily@example.com"))))
    q.processAllAvailable()
    assert(accounts.keySet === Set(1, 2, 3, 4, 5))

    // batch 3: manual/002 — update emily -> emma (before + after images)
    Topic.appendLines(topic, Seq(
      env("account", "u", account(5, "emily@example.com"),
        account(5, "emma@example.com"))))
    q.processAllAvailable()
    assert(accounts(5) === "emma@example.com" && accounts.size === 5)

    // batch 4: manual/003 — delete every account (before=row, after=null)
    Topic.appendLines(topic, (1 to 5).map(i =>
      env("account", "d", account(i, s"x$i@example.com"), "null")))
    q.processAllAvailable()
    q.stop()
    assert(accounts === Map.empty)
    // products untouched by the account deletes (per-record routing)
    assert(productTable.read().count() === 2)
  }

  test("CDC stream: kill, append while down, restart — exactly-once (C4/C5)") {
    val base = Files.createTempDirectory("graft-cdc-restart")
    val topic = s"$base/topic"
    val job = CdcJob(topic, s"$base/wh", s"$base/cp", keyFor,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
    def accounts: Map[Long, String] =
      UpsertTable(spark, CdcSink.targetPath(s"$base/wh", "account"))
        .read().select("user_id", "email").collect()
        .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap

    Topic.appendLines(topic, Seq(
      env("account", "c", "null", account(1, "a@example.com")),
      env("account", "c", "null", account(2, "b@example.com"))))
    val q1 = job.start(spark)
    q1.processAllAvailable()
    assert(accounts.keySet === Set(1L, 2L))
    q1.stop() // kill

    Topic.appendLines(topic, Seq(
      env("account", "u", account(1, "a@example.com"), account(1, "a2@example.com")),
      env("account", "d", account(2, "b@example.com"), "null")))
    val q2 = job.start(spark) // same checkpoint
    q2.processAllAvailable()
    q2.stop()
    assert(accounts === Map(1L -> "a2@example.com"))
  }

  test("schema evolves mid-stream when envelopes grow a column (S6)") {
    val base = Files.createTempDirectory("graft-cdc-evolve")
    val wh = s"$base/wh"
    import spark.implicits._
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", account(1, "a@example.com")))
        .toDF("value"), wh, keyFor)
    val widened =
      """{"user_id":2,"email":"b@example.com","created_at":1757389556032031,"age":30}"""
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", widened)).toDF("value"), wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    assert(t.schema.fieldNames.contains("age"))
    val rows = t.read().select("user_id", "age").collect()
      .map(r => r.getAs[Number](0).longValue() ->
        Option(r.get(1)).map(_.asInstanceOf[Number].longValue())).toMap
    assert(rows(1L).isEmpty && rows(2L).contains(30L)) // old row null-filled
  }

  test("steady-state batches reuse the stored schema — no re-inference") {
    val base = Files.createTempDirectory("graft-cdc-noinfer")
    val wh = s"$base/wh"
    import spark.implicits._
    val before = CdcSink.inferenceCount.get()
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", account(1, "a@example.com"))).toDF("value"),
      wh, keyFor, microTsCols = Map("account" -> Seq("created_at")))
    assert(CdcSink.inferenceCount.get() === before + 1) // first sight infers
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", account(2, "b@example.com")),
        env("account", "u", account(1, "a@example.com"),
          account(1, "a2@example.com"))).toDF("value"),
      wh, keyFor, microTsCols = Map("account" -> Seq("created_at")))
    // same fields → parsed under the manifest schema, zero inference
    assert(CdcSink.inferenceCount.get() === before + 1)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    assert(t.schema("created_at").dataType === TimestampType)
    val rows = t.read().select("user_id", "email").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap
    assert(rows === Map(1L -> "a2@example.com", 2L -> "b@example.com"))
    // a genuinely new field re-infers exactly once
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":3,"email":"c@example.com","created_at":1757389556032031,"age":30}"""))
        .toDF("value"),
      wh, keyFor, microTsCols = Map("account" -> Seq("created_at")))
    assert(CdcSink.inferenceCount.get() === before + 2)
    assert(t.schema.fieldNames.contains("age"))
  }

  test("a batch where a known numeric column is all-null does not wedge the stream") {
    val base = Files.createTempDirectory("graft-cdc-nullcol")
    val wh = s"$base/wh"
    import spark.implicits._
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":1,"email":"a@example.com","age":30}""")).toDF("value"),
      wh, keyFor)
    // age is null in every payload of this batch: with per-batch
    // inference this inferred an untyped column and threw
    // 'incompatible evolution' forever on replay (ADVICE r2)
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":2,"email":"b@example.com","age":null}""")).toDF("value"),
      wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    val rows = t.read().select("user_id", "age").collect()
      .map(r => r.getAs[Number](0).longValue() ->
        Option(r.get(1)).map(_.asInstanceOf[Number].longValue())).toMap
    assert(rows === Map(1L -> Some(30L), 2L -> None))
  }

  test("first-sight inference drops null-only fields; they evolve in later") {
    val base = Files.createTempDirectory("graft-cdc-nullfirst")
    val wh = s"$base/wh"
    import spark.implicits._
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":1,"email":"a@example.com","age":null}""")).toDF("value"),
      wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    assert(!t.schema.fieldNames.contains("age")) // dropFieldIfAllNull
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":2,"email":"b@example.com","age":41}""")).toDF("value"),
      wh, keyFor)
    assert(t.schema.fieldNames.contains("age")) // additive evolution
  }

  test("type drift on an existing field re-infers and widens, not nulls") {
    val base = Files.createTempDirectory("graft-cdc-drift")
    val wh = s"$base/wh"
    import spark.implicits._
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":1,"email":"a@example.com","score":5}""")).toDF("value"),
      wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    assert(t.schema("score").dataType ===
      org.apache.spark.sql.types.LongType)
    // the long column starts carrying decimals: under the stale cached
    // schema from_json nulls the field — the drift guard must re-infer
    // and the evolve path widens long -> double
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":2,"email":"b@example.com","score":5.5}""")).toDF("value"),
      wh, keyFor)
    assert(t.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val rows = t.read().select("user_id", "score").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 5.0, 2L -> 5.5))
  }

  test("an unknown key that is always-null does not re-infer every batch") {
    val base = Files.createTempDirectory("graft-cdc-nullkey")
    val wh = s"$base/wh"
    import spark.implicits._
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null",
        """{"user_id":1,"email":"a@example.com"}""")).toDF("value"),
      wh, keyFor)
    val before = CdcSink.inferenceCount.get()
    // "extra" is explicitly null in every payload: inference would drop
    // it again (dropFieldIfAllNull), so re-running it each batch is a
    // pure steady-state regression — the key scan must skip it
    (1 to 3).foreach { i =>
      CdcSink.applyBatch(spark,
        Seq(env("account", "u", "null",
          s"""{"user_id":1,"email":"v$i@example.com","extra":null}"""))
          .toDF("value"),
        wh, keyFor)
    }
    assert(CdcSink.inferenceCount.get() === before)
    // but the moment extra carries a value, it evolves in
    CdcSink.applyBatch(spark,
      Seq(env("account", "u", "null",
        """{"user_id":1,"email":"v4@example.com","extra":"x"}""")).toDF("value"),
      wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    assert(t.schema.fieldNames.contains("extra"))
  }

  test("malformed and foreign-payload envelopes are dropped, not fatal") {
    val base = Files.createTempDirectory("graft-cdc2")
    import spark.implicits._
    val batch = Seq(
      env("account", "c", "null", account(9, "ok@example.com")),
      """this is not json""",
      """{"op":"c"}""" // no table/payload — dropped by the meta filter
    ).toDF("value")
    CdcSink.applyBatch(spark, batch, s"$base/wh", keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(s"$base/wh", "account"))
    assert(t.read().count() === 1)
  }

  test("a new field nested inside a struct column re-infers and evolves") {
    val base = Files.createTempDirectory("graft-cdc-nested")
    val wh = s"$base/wh"
    import spark.implicits._
    val p1 = """{"user_id":1,"addr":{"city":"x","zip":"11"}}"""
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", p1)).toDF("value"), wh, keyFor)
    val p2 = """{"user_id":2,"addr":{"city":"y","zip":"22","country":"DE"}}"""
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", p2)).toDF("value"), wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    val addr = t.schema("addr").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addr.fieldNames.contains("country"),
      "nested field was dropped instead of evolving")
    val rows = t.read().selectExpr("user_id", "addr.country").collect()
      .map(r => r.getAs[Number](0).longValue() -> Option(r.getString(1))).toMap
    assert(rows(1L).isEmpty && rows(2L).contains("DE"))
  }

  test("nested leaf type drift re-infers and widens instead of nulling") {
    val base = Files.createTempDirectory("graft-cdc-nested-drift")
    val wh = s"$base/wh"
    import spark.implicits._
    val p1 = """{"user_id":1,"addr":{"zip":7}}"""
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", p1)).toDF("value"), wh, keyFor)
    val p2 = """{"user_id":2,"addr":{"zip":7.5}}""" // long -> double drift
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", p2)).toDF("value"), wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    val zips = t.read().selectExpr("user_id", "addr.zip").collect()
      .map(r => r.getAs[Number](0).longValue() ->
        Option(r.get(1)).map(_.asInstanceOf[Number].doubleValue())).toMap
    assert(zips(1L).contains(7.0d), s"drifted nested leaf lost data: $zips")
    assert(zips(2L).contains(7.5d), s"drifted nested leaf lost data: $zips")
  }

  test("a struct column drifting to a scalar value fails loudly, never nulls") {
    val base = Files.createTempDirectory("graft-cdc-node-drift")
    val wh = s"$base/wh"
    import spark.implicits._
    val p1 = """{"user_id":1,"addr":{"zip":7}}"""
    CdcSink.applyBatch(spark,
      Seq(env("account", "c", "null", p1)).toDF("value"), wh, keyFor)
    // addr arrives as a plain string: only the struct-NODE drift check
    // sees this (every leaf path under addr reads null from the raw
    // JSON too) — re-inference must fire and evolve must reject
    // struct->string loudly instead of merging addr=null
    val p2 = """{"user_id":2,"addr":"5 Main St"}"""
    intercept[IllegalArgumentException] {
      CdcSink.applyBatch(spark,
        Seq(env("account", "c", "null", p2)).toDF("value"), wh, keyFor)
    }
    // the stored row is untouched
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    assert(t.read().selectExpr("addr.zip").head().getLong(0) === 7L)
  }

  test("captured JsonConverter framing replays verbatim: typed parse, zero inference") {
    val base = Files.createTempDirectory("graft-cdc-framed")
    val wh = s"$base/wh"
    import spark.implicits._
    val before = CdcSink.inferenceCount.get()
    // the reference's actual topic bytes (CapturedWire fixtures) —
    // NOTE: no microTsCols declared; the embedded schema must drive
    // both the types and the MicroTimestamp conversion
    CdcSink.applyBatch(spark,
      (CapturedWire.lines("cdc.commerce.account") ++
        CapturedWire.lines("cdc.commerce.product")).toDF("value"),
      wh, keyFor)
    assert(CdcSink.inferenceCount.get() === before,
      "framed batch must parse under the embedded schema, not sampling")
    val acct = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    // int32 honored (inference would have widened to long)
    assert(acct.schema("user_id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(acct.schema("created_at").dataType === TimestampType)
    val rows = acct.read()
      .selectExpr("user_id", "email", "unix_micros(created_at)").collect()
      .map(r => r.getInt(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows === Map(
      1 -> (("alice@example.com", 1757389556032031L)),
      2 -> (("bob@example.com", 1757389556032031L)),
      3 -> (("carol@example.com", 1757389556032031L))))
    assert(UpsertTable(spark, CdcSink.targetPath(wh, "product"))
      .read().count() === 2)
  }

  test("framed continuation + tombstones: tombstones skipped, never merged") {
    val base = Files.createTempDirectory("graft-cdc-tomb")
    import spark.implicits._
    val acct = CapturedWire.lines("cdc.commerce.account")
    val del = CapturedWire.continuation(acct.head, "d",
      """{"user_id":3,"email":"carol@example.com","created_at":1757389556032031}""",
      "null", lsn = 22446800L, txId = 751L)
    // replay twice: with and without interleaved tombstones — the
    // materialized states must be identical (FIXTURES.md §4 + the
    // Debezium compaction contract: a tombstone is transport noise)
    def replay(wh: String, lines: Seq[String]): Map[Int, String] = {
      CdcSink.applyBatch(spark, lines.toDF("value"), wh, keyFor)
      UpsertTable(spark, CdcSink.targetPath(wh, "account")).read()
        .select("user_id", "email").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
    }
    val plain = replay(s"$base/wh1", acct :+ del)
    val withTombs = replay(s"$base/wh2",
      Seq(acct.head, CapturedWire.Tombstone, acct(1), acct(2), del,
        CapturedWire.Tombstone))
    assert(plain === Map(1 -> "alice@example.com", 2 -> "bob@example.com"))
    assert(withTombs === plain)
  }

  test("canonical golden sequence with post-delete tombstones still lands {0 rows}") {
    // FIXTURES.md §4 extended: after the manual/003 delete-everything
    // pass, Debezium emits one tombstone per deleted key — the replay
    // must still materialize the empty state
    val base = Files.createTempDirectory("graft-cdc-golden-tomb")
    val wh = s"$base/wh"
    import spark.implicits._
    val history =
      Seq(env("account", "r", "null", account(1, "alice@example.com")),
        env("account", "r", "null", account(2, "bob@example.com")),
        env("account", "r", "null", account(3, "carol@example.com")),
        env("account", "c", "null", account(4, "derek@example.com")),
        env("account", "c", "null", account(5, "emily@example.com")),
        env("account", "u", account(5, "emily@example.com"),
          account(5, "emma@example.com"))) ++
        (1 to 5).flatMap(i => Seq(
          env("account", "d", account(i, s"x$i@example.com"), "null"),
          CapturedWire.Tombstone))
    CdcSink.applyBatch(spark, history.toDF("value"), wh, keyFor)
    assert(UpsertTable(spark, CdcSink.targetPath(wh, "account"))
      .read().count() === 0)
  }

  test("bare and framed envelopes mix in one batch; framed schema wins") {
    val base = Files.createTempDirectory("graft-cdc-mixed")
    val wh = s"$base/wh"
    import spark.implicits._
    val framed = CapturedWire.continuation(
      CapturedWire.lines("cdc.commerce.account").head, "c", "null",
      """{"user_id":7,"email":"frank@example.com","created_at":1757389556032031}""",
      lsn = 22446900L, txId = 760L)
    val bare = env("account", "c", "null", account(8, "grace@example.com"))
    CdcSink.applyBatch(spark, Seq(framed, bare).toDF("value"), wh, keyFor)
    val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
    // wire schema applied to the whole table batch: ints, typed ts
    assert(t.schema("user_id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(t.schema("created_at").dataType === TimestampType)
    assert(t.read().select("user_id").collect()
      .map(_.getInt(0)).toSet === Set(7, 8))
  }

  test("two framed schema versions out of arrival order: the highest " +
      "(lsn, txId) schema wins") {
    import spark.implicits._
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val captured = CapturedWire.lines("cdc.commerce.account").head
    // the next schema version: the row images gain an optional `tier`
    val m = new ObjectMapper
    val grown = m.readTree(captured).asInstanceOf[ObjectNode]
    grown.get("schema").get("fields").forEach { f =>
      if (Set("before", "after")(f.get("field").asText()))
        f.get("fields").asInstanceOf[ArrayNode].add(m.readTree(
          """{"type":"string","optional":true,"field":"tier"}"""))
    }
    def row(id: Int, tier: String) =
      s"""{"user_id":$id,"email":"u$id@example.com",""" +
        s""""created_at":1757389556032031$tier}"""
    // (lsn, txId) of the newer record beats the older one's, which
    // arrives after it; tried once on lsn and once on txId at equal lsn
    Seq((22447000L, 800L, 22446990L, 900L),
        (22447000L, 801L, 22447000L, 800L)).zipWithIndex.foreach {
      case ((newLsn, newTx, oldLsn, oldTx), i) =>
        val wh = Files.createTempDirectory(s"graft-cdc-versions-$i").toString
        val newer = CapturedWire.continuation(m.writeValueAsString(grown),
          "c", "null", row(7, ""","tier":"gold""""), lsn = newLsn, txId = newTx)
        val older = CapturedWire.continuation(captured, "c", "null",
          row(8, ""), lsn = oldLsn, txId = oldTx)
        CdcSink.applyBatch(spark, Seq(newer, older).toDF("value"), wh, keyFor)
        val t = UpsertTable(spark, CdcSink.targetPath(wh, "account"))
        assert(t.schema.fieldNames.contains("tier"))
        assert(t.read().select("user_id", "tier").collect()
          .map(r => r.getInt(0) -> Option(r.getString(1))).toMap ===
          Map(7 -> Some("gold"), 8 -> None))
    }
  }

  test("typed envelope parse via Envelope.schema round-trips op and images") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val payload = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("email",
        org.apache.spark.sql.types.StringType)))
    val df = Seq(env("account", "u", account(5, "old@x.com"), account(5, "new@x.com")))
      .toDF("value")
      .select(from_json(col("value"), Envelope.schema(payload)).as("e"))
    val row = df.select("e.op", "e.before.email", "e.after.email",
      "e.source.table", "e.source.lsn").head()
    assert(row.getString(0) === "u")
    assert(row.getString(1) === "old@x.com")
    assert(row.getString(2) === "new@x.com")
    assert(row.getString(3) === "account")
    assert(!row.isNullAt(4))
  }
}
