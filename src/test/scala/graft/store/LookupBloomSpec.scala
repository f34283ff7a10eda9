package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.selectFiles

/** Per-file Bloom lookup stats (the GDPR reverse-index): commits on a
  * table with declared lookup columns must record a bloom per file,
  * reverse lookups must touch only the files whose bloom admits the
  * probe (never missing a true occurrence) — the store's file planner
  * selects them from a `read().where(c IN …)` — the declaration must
  * survive into maintenance commits via the manifest, and the
  * always-keep-deltas rule must make pruning sound even when a key's
  * lookup value CHANGES across versions.
  */
class LookupBloomSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("erasure reverse lookup prunes to admitted files, stays exact, survives compaction") {
    val dir = Files.createTempDirectory("graft-bloom").toString
    spark.conf.set(UpsertTable.LookupBloomsConf, "user_id")
    try {
      val t = UpsertTable(spark, dir)
      // 512 keys, 128 users (4 rows each) — a user's rows land in at
      // most 4 of the 16 key-hash buckets, so lookups can prune
      val df = (0 until 512).map(i => (i.toLong, (i / 4).toLong, i * 10L))
        .toDF("id", "user_id", "v")
      t.merge(df, autoCreateKeys = Seq("id"))
      val snap = t.currentSnapshot.get
      assert(snap.lookupCols === Seq("user_id"))
      assert(snap.files.nonEmpty &&
        snap.files.forall(_.blooms.contains("user_id")))

      // soundness: every file truly containing user 3 is admitted
      def lookup(users: Long*) = t.read().where(col("user_id").isin(users: _*))
      val admitted = selectFiles(t, In("user_id", Array(3L))).map(_.path).toSet
      val containing = snap.files.filter { f =>
        spark.read.parquet(s"$dir/${f.path}")
          .where(col("user_id") === 3L).count() > 0
      }.map(_.path).toSet
      assert(containing.nonEmpty && containing.subsetOf(admitted))
      // pruning: the lookup does NOT open the whole table (≤4 true
      // files + 1%-fpp noise out of 16)
      val opened = TestSpark.filesRead(lookup(3L))
      assert(opened < snap.files.size,
        s"expected pruning, opened $opened/${snap.files.size}")

      // exactness: the pruned lookup ≡ full read + residual filter
      val got = lookup(3L).collect().map(_.getLong(0)).sorted
      assert(got === t.read().collect().filter(_.getLong(1) == 3L)
        .map(_.getLong(0)).sorted)

      // re-keyed update: a delta moves key 12 to user 999 — the new
      // user finds it (deltas always read) and user 3 no longer does
      spark.conf.unset(UpsertTable.LookupBloomsConf)
      t.merge(Seq((12L, 999L, 0L)).toDF("id", "user_id", "v"),
        delta = true)
      assert(lookup(999L).collect().map(_.getLong(0)).toSeq === Seq(12L))
      assert(!lookup(3L).collect().map(_.getLong(0)).contains(12L))

      // erasure through the lookup path, then compaction in a session
      // with NO conf set: the manifest declaration keeps blooms coming
      val victims = lookup(3L)
      t.merge(victims.withColumn("__op", lit("d")),
        opCol = Some("__op"), delta = true)
      t.compact()
      val snap2 = t.currentSnapshot.get
      assert(snap2.files.forall(_.blooms.contains("user_id")),
        "compaction must keep collecting blooms from the manifest declaration")
      assert(lookup(3L).count() === 0L)
      assert(t.read().count() === 512L - 3L) // 4 rows minus re-keyed 12
    } finally spark.conf.unset(UpsertTable.LookupBloomsConf)
  }

  test("each file's bloom is sized from its footer: non-null count, at least 64") {
    import org.apache.spark.util.sketch.BloomFilter
    val dir = Files.createTempDirectory("graft-bloom-size").toString
    spark.conf.set(UpsertTable.LookupBloomsConf, "user_id,email")
    try {
      val t = UpsertTable(spark, dir)
      // ~190 rows per bucket file, a fifth of user_id and a seventh of
      // email null; then a 3-row delta (one-row files: the 64 floor)
      // whose email is null throughout (an empty bloom)
      val rows = (0 until 3000).map { i =>
        (i.toLong,
          if (i % 5 == 0) None else Some((i / 3).toLong),
          if (i % 7 == 0) None else Some(s"u${i / 3}@example.com"))
      }
      t.merge(rows.toDF("id", "user_id", "email"), autoCreateKeys = Seq("id"))
      t.merge(Seq((1L, Some(9000L), Option.empty[String]),
          (2L, Some(9001L), None), (4L, None, None))
        .toDF("id", "user_id", "email"), delta = true)
      val snap = t.currentSnapshot.get
      assert(snap.files.exists(f => FileEntry.isDelta(f)) &&
        snap.files.exists(f => !FileEntry.isDelta(f)))

      // the bloom each file's values give when sized by its own
      // non-null count, built here from the file itself
      def expected(path: String, c: String): BloomFilter = {
        val vals = spark.read.parquet(s"$dir/$path").select(c)
          .collect().map(_.get(0)).filter(_ != null)
        val bf = BloomFilter.create(math.max(vals.length, 64).toLong, 0.01)
        vals.foreach {
          case l: java.lang.Long => bf.putLong(l)
          case s: String => bf.putString(s)
        }
        bf
      }
      def stored(f: FileEntry, c: String): BloomFilter =
        BloomFilter.readFrom(new java.io.ByteArrayInputStream(
          java.util.Base64.getDecoder.decode(f.blooms(c))))
      val built = snap.files.map(f =>
        f.path -> Seq("user_id", "email").map(c => c -> expected(f.path, c)).toMap
      ).toMap
      snap.files.foreach { f =>
        Seq("user_id", "email").foreach { c =>
          assert(stored(f, c) == built(f.path)(c), s"${f.path} / $c")
        }
      }

      // lookups admit exactly the files those blooms admit (deltas
      // always), present and absent values alike: the planner's bloom
      // check alone, over the entries without their column bounds
      val unbounded = StoreFileIndex(spark, dir, snap, snap.files.map(_.copy(stats = Map.empty)))
      def admitted(c: String, v: Any) = unbounded.select(Seq(In(c, Array(v)))).map(_.path).toSet
      Seq[Any](3L, 500L, 9000L, 123456L).foreach { v =>
        assert(admitted("user_id", v) ===
          snap.files.filter(f => FileEntry.isDelta(f) ||
            built(f.path)("user_id").mightContainLong(v.asInstanceOf[Long]))
            .map(_.path).toSet)
      }
      Seq("u3@example.com", "nobody@example.com").foreach { v =>
        assert(admitted("email", v) ===
          snap.files.filter(f => FileEntry.isDelta(f) ||
            built(f.path)("email").mightContainString(v)).map(_.path).toSet)
      }
    } finally spark.conf.unset(UpsertTable.LookupBloomsConf)
  }
}
