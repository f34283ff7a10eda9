package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.CdcJob
import graft.store.UpsertTable
import graft.streaming.{IngestJob, JsonField}

/** One SQL read: the statement and a check of its rows (None = correct). */
final case class Read(cls: String, sql: String, check: Array[Row] => Option[String])

/** A writer pipeline under test, fed by a seeded generator whose model
  * says what the tables must hold. Each setup round builds a fresh one
  * (same seed, so every round does the same work) under namespace `ns`.
  *
  * `live` reads run beside the writer and check only what concurrent
  * commits cannot change; other reads see the quiet set-up state and are
  * checked exactly.
  */
abstract class Pipeline(val spark: SparkSession, work: Path, val ns: String) {
  val topic: String = work.resolve(ns).resolve("topic").toString
  val checkpoint: String = work.resolve(ns).resolve("checkpoint").toString
  protected val warehouse: Path = work.resolve("wh").resolve(ns)
  Files.createDirectories(Paths.get(topic))

  /** Records committed as the query's first batch. */
  def preload: Seq[String]
  /** The next commit's records; the model applies them at once. */
  def next(): Seq[String]
  def start(): StreamingQuery
  def tablePaths: Seq[String]
  /** Commits after the preload that bring the table to its steady state. */
  def settleCommits: Int = 0
  /** Whether the commit of batch `batchId` also compacts. */
  def compacts(batchId: Long): Boolean = false
  /** Record the version that `asof` reads travel to, and its model. */
  def pin(): Unit
  def read(cls: String, rnd: java.util.Random, live: Boolean): Read
  /** Final table state against the model: one line per mismatch. */
  def verify(): Seq[String]
  /** Self-test hook: change the model so that [[verify]] must fail. */
  def corruptModel(): Unit

  protected def version(path: String): Long =
    UpsertTable(spark, path).currentSnapshot.get.version

  protected def metaRead(table: String, pinned: Long): Read =
    Read("meta", s"SELECT count(*), max(version) FROM $table.snapshots", rows => {
      val (n, v) = (rows(0).getLong(0), rows(0).getLong(1))
      if (n == v && v >= pinned) None
      else Some(s"meta: $n snapshots up to v$v, pinned v$pinned")
    })
}

object Pipeline {
  val ReadClasses: Seq[String] = Seq("scan", "lookup", "asof", "meta")
}

/** `IngestJob` over raw account JSON (FIXTURES.md §2), merge-on-write or,
  * with `delta`, merge-on-read with compaction every `compactEvery`
  * batches.
  */
final class IngestPipeline(spark: SparkSession, work: Path, ns: String, seed: Long,
    keySpace: Int, zipfS: Double, batchRows: Int, preloadKeys: Int,
    delta: Boolean, compactEvery: Int) extends Pipeline(spark, work, ns) {

  private val gen = new AccountGen(seed, keySpace, zipfS, badPerMille = 10)
  private val path = warehouse.resolve("accounts").toString
  private val table = s"graft.$ns.accounts"
  val preload: Seq[String] = gen.preload(0 until preloadKeys)
  // the model's row count after the latest generated batch: an upper
  // bound for any live scan (ingest never deletes)
  @volatile private var generatedRows = gen.model.size
  private var pinned: (Long, Long, Long) = _
  private var pinnedKeys: Array[Int] = _

  def next(): Seq[String] = {
    val lines = gen.batch(batchRows)
    generatedRows = gen.model.size
    lines
  }

  def start(): StreamingQuery = IngestJob(
    topicDir = topic,
    tablePath = path,
    keyField = "user_id",
    fields = Seq(
      JsonField("user_id", "INT", required = true),
      JsonField("email", "STRING", maxLength = Some(255)),
      JsonField("score", "BIGINT")),
    checkpointDir = checkpoint,
    trigger = Trigger.ProcessingTime(0L),
    deltaMerges = delta,
    compactEvery = compactEvery).start(spark)

  def tablePaths: Seq[String] = Seq(path)

  // past the first compaction, with three commits of deltas on top
  override def settleCommits: Int = if (delta && compactEvery > 0) compactEvery + 3 else 0

  override def compacts(batchId: Long): Boolean =
    delta && compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0

  def pin(): Unit = {
    pinned = (version(path), gen.model.size.toLong, gen.model.valuesIterator.map(_._2).sum)
    pinnedKeys = gen.model.keysIterator.toArray.sorted
  }

  def read(cls: String, rnd: java.util.Random, live: Boolean): Read = {
    val (pv, pn, psum) = pinned
    cls match {
      case "scan" =>
        Read(cls, s"SELECT count(*), sum(score) FROM $table", rows => {
          val (n, s) = (rows(0).getLong(0), rows(0).getLong(1))
          val ok =
            if (live) n >= pn && n <= generatedRows
            else n == gen.model.size && s == gen.model.valuesIterator.map(_._2).sum
          if (ok) None else Some(s"scan: $n rows, sum $s")
        })
      case "lookup" =>
        val k = pinnedKeys(rnd.nextInt(pinnedKeys.length))
        Read(cls, s"SELECT email, score FROM $table WHERE user_id = $k", rows => {
          val ok = rows.length == 1 && (
            if (live) rows(0).getString(0).startsWith(s"u$k.")
            else (rows(0).getString(0), rows(0).getLong(1)) == gen.model(k))
          if (ok) None else Some(s"lookup $k: ${rows.mkString(",")}")
        })
      case "asof" =>
        Read(cls, s"SELECT count(*), sum(score) FROM $table VERSION AS OF $pv", rows => {
          val got = (rows(0).getLong(0), rows(0).getLong(1))
          if (got == (pn, psum)) None else Some(s"asof v$pv: $got, want ${(pn, psum)}")
        })
      case "meta" => metaRead(table, pv)
    }
  }

  def verify(): Seq[String] = {
    val got = spark.sql(s"SELECT user_id, email, score FROM $table").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    Verify.against(table, got, gen.model.toMap)
  }

  def corruptModel(): Unit = {
    val k = gen.model.keysIterator.next()
    gen.model(k) = ("corrupted", -1L)
  }
}

/** `CdcJob` over Debezium envelopes for `commerce.account` and
  * `commerce.product` in the reference's framed wire format, into the
  * two `cdc.*_postgres` tables, with a Bloom lookup column on `email`.
  */
final class CdcPipeline(spark: SparkSession, work: Path, ns: String, seed: Long,
    snapshotPerTable: Int, batchEvents: Int) extends Pipeline(spark, work, ns) {

  spark.conf.set(UpsertTable.LookupBloomsConf, "email")
  private val gen = new CdcGen(seed, wire("cdc.commerce.account"), wire("cdc.commerce.product"))
  private def pathOf(t: gen.Table) = warehouse.resolve("cdc").resolve(s"${t.name}_postgres").toString
  private def tableOf(t: gen.Table) = s"graft.$ns.cdc.${t.name}_postgres"
  private val account = tableOf(gen.account)
  val preload: Seq[String] = gen.snapshot(snapshotPerTable)
  private var pinned: (Long, Long, Long) = _
  private lazy val quietKeys = gen.account.model.keysIterator.toArray.sorted

  private def wire(topic: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/connect-captured/$topic.jsonl")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
    finally in.close()
  }

  def next(): Seq[String] = gen.batch(batchEvents)

  def start(): StreamingQuery = CdcJob(
    topicDir = topic,
    warehouseDir = warehouse.toString,
    checkpointDir = checkpoint,
    keyColsFor = Map("account" -> Seq("user_id"), "product" -> Seq("product_id")),
    trigger = Trigger.ProcessingTime(0L)).start(spark)

  def tablePaths: Seq[String] = gen.tables.map(pathOf)

  private def microsSum(m: collection.Map[Int, (String, Long)]): Long =
    m.valuesIterator.map(_._2).sum

  def pin(): Unit = pinned = (version(pathOf(gen.account)), gen.account.model.size.toLong,
    microsSum(gen.account.model))

  // the CDC workload reads only a quiet table (`live` never holds)
  def read(cls: String, rnd: java.util.Random, live: Boolean): Read = {
    val (pv, pn, psum) = pinned
    val m = gen.account.model
    cls match {
      case "scan" =>
        Read(cls, s"SELECT count(*), sum(unix_micros(created_at)) FROM $account", rows => {
          val got = (rows(0).getLong(0), rows(0).getLong(1))
          if (got == (m.size.toLong, microsSum(m))) None else Some(s"scan: $got")
        })
      case "lookup" =>
        val k = quietKeys(rnd.nextInt(quietKeys.length))
        Read(cls, s"SELECT email, unix_micros(created_at) FROM $account WHERE user_id = $k",
          rows => {
            val ok = rows.length == 1 && (rows(0).getString(0), rows(0).getLong(1)) == m(k)
            if (ok) None else Some(s"lookup $k: ${rows.mkString(",")}")
          })
      case "asof" =>
        Read(cls, s"SELECT count(*), sum(unix_micros(created_at)) FROM $account " +
          s"VERSION AS OF $pv", rows => {
          val got = (rows(0).getLong(0), rows(0).getLong(1))
          if (got == (pn, psum)) None else Some(s"asof v$pv: $got, want ${(pn, psum)}")
        })
      case "meta" => metaRead(account, pv)
    }
  }

  def verify(): Seq[String] = gen.tables.flatMap { t =>
    val name = tableOf(t)
    val got = spark.sql(
      s"SELECT ${t.keyCol}, ${t.valueCol}, unix_micros(created_at) FROM $name").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    Verify.against(name, got, t.model.toMap)
  }

  def corruptModel(): Unit = {
    val k = gen.account.model.keysIterator.next()
    gen.account.model(k) = ("corrupted", -1L)
  }
}

object Verify {
  /** Differences between a table's rows and the model, at most five. */
  def against(table: String, got: Map[Int, (String, Long)],
      want: Map[Int, (String, Long)]): Seq[String] = {
    val keys = (got.keySet ++ want.keySet).toSeq.sorted
    val bad = keys.filter(k => got.get(k) != want.get(k))
    bad.take(5).map(k => s"$table key $k: got ${got.get(k)}, want ${want.get(k)}") ++
      (if (bad.size > 5) Seq(s"$table: ${bad.size - 5} more mismatched keys") else Nil)
  }
}
