package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

/** Seeded raw-JSON account records for `IngestJob` (FIXTURES.md §2 shape
  * plus a `score`), and the last-wins model of what the table must hold.
  *
  * About `badPerMille`/1000 of the records are malformed in one of the
  * four ways the job must drop: not JSON, no key, a non-numeric key, or
  * an email over the VARCHAR(255) limit. The model skips them.
  */
final class AccountGen(seed: Long, keySpace: Int, zipfS: Double, badPerMille: Int) {
  private val rnd = new java.util.Random(seed)
  // Zipf rank -> key through a seeded permutation, so hot keys spread
  // over the hash buckets instead of clustering at small ids
  private val rankToKey: Array[Int] = {
    val a = Array.range(0, keySpace)
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val cdf: Array[Double] =
    if (zipfS <= 0) null
    else {
      val w = Array.tabulate(keySpace)(r => math.pow(r + 1.0, -zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }

  /** key -> (email, score) after every record generated so far. */
  val model = mutable.HashMap.empty[Int, (String, Long)]
  private var batchNo = 0

  private def drawKey(): Int =
    if (cdf == null) rnd.nextInt(keySpace)
    else {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      rankToKey(math.min(if (i >= 0) i else -i - 1, keySpace - 1))
    }

  /** The next commit's records over drawn keys. */
  def batch(n: Int): Seq[String] = lines(Iterator.continually(drawKey()).take(n))

  /** One record per key, in order: a preload of `keys`. */
  def preload(keys: Range): Seq[String] = lines(keys.iterator)

  private def lines(keys: Iterator[Int]): Seq[String] = {
    val b = batchNo
    batchNo += 1
    keys.zipWithIndex.map { case (k, r) =>
      val email = s"u$k.b$b.r$r@example.com"
      val score = rnd.nextInt(1000000).toLong
      if (rnd.nextInt(1000) < badPerMille) rnd.nextInt(4) match {
        case 0 => s"""{"user_id":$k,"email":"$email""""
        case 1 => s"""{"email":"$email","score":$score}"""
        case 2 => s"""{"user_id":"k$k","email":"$email","score":$score}"""
        case _ => s"""{"user_id":$k,"email":"${"x" * 300}$email","score":$score}"""
      } else {
        model(k) = (email, score)
        s"""{"user_id":$k,"email":"$email","score":$score}"""
      }
    }.toVector
  }
}

/** Seeded Debezium change events for `commerce.account` and
  * `commerce.product`, framed exactly as the reference's JsonConverter
  * wrote them (the schema block is taken from the captured wire
  * fixture), and the per-table model the sink must materialize.
  *
  * Keys are uniform over the reference's [1000, 9999]. An update or a
  * delete picks a present key, a create an absent one; every delete is
  * followed by a `null` tombstone, which the sink must skip.
  */
final class CdcGen(seed: Long, accountWire: String, productWire: String) {
  private val rnd = new java.util.Random(seed)
  private val mapper = new ObjectMapper
  private def schemaOf(wire: String): String =
    mapper.writeValueAsString(mapper.readTree(wire).get("schema"))

  final class Table(val name: String, val keyCol: String, val valueCol: String,
      wire: String) {
    val schema: String = schemaOf(wire)
    /** key -> (value column, created_at micros) */
    val model = mutable.HashMap.empty[Int, (String, Long)]
    private val present = mutable.ArrayBuffer.empty[Int]
    private val slot = mutable.HashMap.empty[Int, Int]

    def row(k: Int, v: (String, Long)): String =
      s"""{"$keyCol":$k,"$valueCol":"${v._1}","created_at":${v._2}}"""

    def randomPresent(): Int = present(rnd.nextInt(present.size))
    def randomAbsent(): Int = {
      var k = 1000 + rnd.nextInt(9000)
      while (model.contains(k)) k = 1000 + rnd.nextInt(9000)
      k
    }
    def put(k: Int, v: (String, Long)): Unit = {
      if (!model.contains(k)) { slot(k) = present.size; present += k }
      model(k) = v
    }
    def remove(k: Int): Unit = {
      val i = slot.remove(k).get
      val last = present.remove(present.size - 1)
      if (last != k) { present(i) = last; slot(last) = i }
      model.remove(k)
    }
    def size: Int = present.size
  }

  val account = new Table("account", "user_id", "email", accountWire)
  val product = new Table("product", "product_id", "product_name", productWire)
  val tables: Seq[Table] = Seq(account, product)
  private var lsn = 22446616L

  private def envelope(t: Table, op: String, before: String, after: String): String = {
    lsn += 8
    val tsMs = 1757389556000L + lsn / 8
    s"""{"schema":${t.schema},"payload":{"before":$before,"after":$after,""" +
      s""""source":{"version":"3.2.1.Final","connector":"postgresql","name":"cdc",""" +
      s""""ts_ms":$tsMs,"snapshot":"${if (op == "r") "true" else "false"}",""" +
      s""""db":"postgres","sequence":null,"ts_us":${tsMs * 1000},"ts_ns":${tsMs * 1000000},""" +
      s""""schema":"commerce","table":"${t.name}","txId":${lsn / 64},"lsn":$lsn,"xmin":null},""" +
      s""""transaction":null,"op":"$op","ts_ms":$tsMs,"ts_us":${tsMs * 1000},""" +
      s""""ts_ns":${tsMs * 1000000}}}"""
  }

  private def value(t: Table, k: Int): (String, Long) = {
    val v = if (t eq account) s"user$k.l$lsn@example.com" else s"Item_$k.l$lsn"
    (v, 1757389556032031L + lsn)
  }

  /** The initial-snapshot (`r`) events for `perTable` keys of each table. */
  def snapshot(perTable: Int): Seq[String] = tables.flatMap { t =>
    Seq.fill(perTable) {
      val k = t.randomAbsent()
      val v = value(t, k)
      t.put(k, v)
      envelope(t, "r", "null", t.row(k, v))
    }
  }

  /** One commit of `n` change events: ~85% `u`, ~10% `c`, ~5% `d`. */
  def batch(n: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until n) {
      val t = if (rnd.nextBoolean()) account else product
      val dice = rnd.nextInt(100)
      if (dice < 10 || t.size < 10) {
        val k = t.randomAbsent()
        val v = value(t, k)
        t.put(k, v)
        out += envelope(t, "c", "null", t.row(k, v))
      } else if (dice < 15) {
        val k = t.randomPresent()
        val before = t.row(k, t.model(k))
        t.remove(k)
        out += envelope(t, "d", before, "null")
        out += "null"
      } else {
        val k = t.randomPresent()
        val before = t.row(k, t.model(k))
        val v = value(t, k)
        t.put(k, v)
        out += envelope(t, "u", before, t.row(k, v))
      }
    }
    out.toVector
  }
}
