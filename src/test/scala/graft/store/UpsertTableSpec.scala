package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class UpsertTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): UpsertTable =
    UpsertTable(spark, Files.createTempDirectory("graft-ut").toString)

  private val accountSchema = StructType(Seq(
    StructField("user_id", IntegerType),
    StructField("email", StringType)))

  test("create + empty read") {
    val t = tmpTable()
    t.create(accountSchema, Seq("user_id"))
    assert(t.exists)
    assert(t.read().count() === 0)
    assert(t.read().schema.fieldNames.toSeq === Seq("user_id", "email"))
  }

  test("merge upserts: last row per key wins within a batch") {
    val t = tmpTable()
    val batch = Seq(
      (1, "a@x.com", 1L), (2, "b@x.com", 2L), (1, "a2@x.com", 3L)
    ).toDF("user_id", "email", "off")
    t.merge(batch, orderCol = Some("off"), autoCreateKeys = Seq("user_id"))
    val got = t.read().orderBy("user_id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq === Seq((1, "a2@x.com"), (2, "b@x.com")))
  }

  test("cross-batch upsert replaces, unrelated keys untouched") {
    val t = tmpTable()
    t.merge(Seq((1, "a"), (2, "b")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    t.merge(Seq((2, "b2"), (3, "c")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    val got = t.read().orderBy("user_id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq === Seq((1, "a"), (2, "b2"), (3, "c")))
  }

  test("golden CDC sequence from FIXTURES.md §4 (seed + manual/001-003)") {
    val t = tmpTable()
    def batch(rows: Seq[(Int, String, String)], ids: Range) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.zip(ids).map { case ((id, e, op), off) =>
          Row(id, e, op, off.toLong) }),
        StructType(Seq(
          StructField("user_id", IntegerType), StructField("email", StringType),
          StructField("op", StringType), StructField("off", LongType))))

    // 1. snapshot r ×3
    t.merge(batch(Seq((1, "alice@example.com", "r"), (2, "bob@example.com", "r"),
      (3, "carol@example.com", "r")), 0 until 3),
      opCol = Some("op"), orderCol = Some("off"), autoCreateKeys = Seq("user_id"))
    assert(t.read().count() === 3)

    // 2. inserts derek + emily (manual/001)
    t.merge(batch(Seq((4, "derek@example.com", "c"), (5, "emily@example.com", "c")),
      3 until 5), opCol = Some("op"), orderCol = Some("off"))
    assert(t.read().count() === 5)

    // 3. update emily -> emma (manual/002)
    t.merge(batch(Seq((5, "emma@example.com", "u")), 5 until 6),
      opCol = Some("op"), orderCol = Some("off"))
    assert(t.read().count() === 5)
    assert(t.read().where($"user_id" === 5).head().getString(1) === "emma@example.com")

    // 4. delete all (manual/003)
    t.merge(batch((1 to 5).map(i => (i, s"x$i", "d")), 6 until 11),
      opCol = Some("op"), orderCol = Some("off"))
    assert(t.read().count() === 0)
  }

  test("exactly-once: replayed batchId is a no-op (C4)") {
    val t = tmpTable()
    val b = Seq((1, "a")).toDF("user_id", "email")
    t.merge(b, streamId = Some("q"), batchId = Some(7L), autoCreateKeys = Seq("user_id"))
    val v = t.currentSnapshot.get.version
    t.merge(Seq((1, "CLOBBER")).toDF("user_id", "email"),
      streamId = Some("q"), batchId = Some(7L))
    assert(t.currentSnapshot.get.version === v)
    assert(t.read().head().getString(1) === "a")
    // later batch applies
    t.merge(Seq((1, "a2")).toDF("user_id", "email"),
      streamId = Some("q"), batchId = Some(8L))
    assert(t.read().head().getString(1) === "a2")
  }

  test("schema evolution: additive column + int widening (S6)") {
    val t = tmpTable()
    t.merge(Seq((1, "a")).toDF("user_id", "email"), autoCreateKeys = Seq("user_id"))
    // additive: new column `age`; old rows read as null
    t.merge(Seq((2, "b", 30)).toDF("user_id", "email", "age"))
    val got = t.read().orderBy("user_id").collect()
    assert(t.read().schema.fieldNames.toSeq === Seq("user_id", "email", "age"))
    assert(got(0).isNullAt(2) && got(1).getInt(2) === 30)
    // widening: age int -> long
    t.merge(Seq((3, "c", 9999999999L)).toDF("user_id", "email", "age"))
    assert(t.read().schema("age").dataType === LongType)
    assert(t.read().where($"user_id" === 3).head().getLong(2) === 9999999999L)
    // incompatible evolution rejected
    intercept[IllegalArgumentException] {
      t.merge(Seq((4, "d", "not-a-number")).toDF("user_id", "email", "age"))
    }
  }

  test("only affected buckets are rewritten") {
    val t = tmpTable()
    t.merge((1 to 100).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.merge(Seq((1, "u1-updated")).toDF("user_id", "email"))
    val after = t.currentSnapshot.get.files.map(_.path).toSet
    // most v2 files survive into v3 untouched; only key-1's bucket moved
    assert((before intersect after).nonEmpty)
    assert(t.read().count() === 100)
  }

  test("widening merge rewrites only the batch's buckets (lazy widening)") {
    val t = tmpTable()
    t.merge((1 to 100).map(i => (i, s"u$i", i)).toDF("user_id", "email", "age"),
      autoCreateKeys = Seq("user_id"))
    val before = t.currentSnapshot.get.files
    // widen age int -> long via a single-key merge
    t.merge(Seq((1, "u1", 9999999999L)).toDF("user_id", "email", "age"))
    val after = t.currentSnapshot.get.files
    val batchBucket = t.bucketFor(Map("user_id" -> 1)).get
    // untouched buckets' files carried over byte-identical (no rewrite)
    assert(after.filterNot(_.bucket == batchBucket).toSet ===
      before.filterNot(_.bucket == batchBucket).toSet)
    // narrow files in untouched buckets served as long via cast-on-read
    assert(t.schema("age").dataType === LongType)
    val got = t.read().orderBy("user_id").collect()
    assert(got.map(_.getLong(2)).take(3).toSeq === Seq(9999999999L, 2L, 3L))
    // maintenance completes the physical rewrite; answers unchanged
    t.rewriteData()
    assert(t.read().orderBy("user_id").collect().map(_.getLong(2)).take(3).toSeq
      === Seq(9999999999L, 2L, 3L))
  }

  test("overwrite is a truncate-commit: table becomes exactly the batch") {
    val t = tmpTable()
    t.merge((1 to 50).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    val vBefore = t.currentSnapshot.get.version
    t.overwrite(Seq((7, "only")).toDF("user_id", "email"))
    assert(t.read().collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((7, "only")))
    assert(t.readVersion(vBefore).count() === 50)
    // duplicate keys have no tiebreak in an overwrite: rejected
    intercept[IllegalArgumentException] {
      t.overwrite(Seq((1, "a"), (1, "b")).toDF("user_id", "email"))
    }
  }

  test("duplicate keys without orderCol are rejected (determinism guard)") {
    val t = tmpTable()
    val dup = Seq((1, "first"), (1, "second")).toDF("user_id", "email")
      .repartition(4) // multi-partition: "last" would be partition-order luck
    intercept[IllegalArgumentException] {
      t.merge(dup, autoCreateKeys = Seq("user_id"))
    }
  }

  test("a data column named __cnt is rejected loudly, not silently doubled") {
    // the dup-check count rides beside the expanded payload under the
    // same name — allowing it through would leave two __cnt columns
    val t = tmpTable()
    val clash = Seq((1, "a", 5L)).toDF("user_id", "email", "__cnt")
    val e = intercept[IllegalArgumentException] {
      t.merge(clash, autoCreateKeys = Seq("user_id"))
    }
    assert(e.getMessage.contains("__cnt"))
  }

  test("merge with orderCol is order-independent across shuffled partitions") {
    import org.apache.spark.sql.functions.rand
    val rows = (1 to 50).flatMap(k => Seq((k, s"old$k", k.toLong),
      (k, s"new$k", (1000 + k).toLong)))
    val expected = (1 to 50).map(k => (k, s"new$k"))
    // same logical batch, three different physical orders/partitionings
    val layouts = Seq(
      rows.toDF("user_id", "email", "off"),
      rows.reverse.toDF("user_id", "email", "off").repartition(7),
      rows.toDF("user_id", "email", "off").orderBy(rand(seed = 5)).repartition(3))
    layouts.foreach { batch =>
      val t = tmpTable()
      t.merge(batch, orderCol = Some("off"), autoCreateKeys = Seq("user_id"))
      val got = t.read().orderBy("user_id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got === expected)
    }
  }

  test("bucket locality: single-key merge touches few files at 256 buckets") {
    val t = tmpTable()
    t.merge((1 to 2000).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"), autoCreateBuckets = 256)
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    assert(before.size > 100) // data spread over many buckets
    t.merge(Seq((42, "u42-updated")).toDF("user_id", "email"))
    val after = t.currentSnapshot.get.files.map(_.path).toSet
    val untouched = before intersect after
    // only key-42's bucket was rewritten; everything else carried over
    assert((before -- untouched).size <= 2)
    assert(t.read().count() === 2000)
    assert(t.read().where($"user_id" === 42).head().getString(1) === "u42-updated")
  }

  test("numBuckets session conf drives auto-create") {
    spark.conf.set(UpsertTable.BucketsConf, "8")
    try {
      val t = tmpTable()
      t.merge(Seq((1, "a")).toDF("user_id", "email"), autoCreateKeys = Seq("user_id"))
      assert(t.currentSnapshot.get.numBuckets === 8)
    } finally spark.conf.unset(UpsertTable.BucketsConf)
  }

  test("racing merges from a stale snapshot: loser conflicts, winner's data intact") {
    val loc = Files.createTempDirectory("graft-race").toString
    val a = UpsertTable(spark, loc)
    val b = UpsertTable(spark, loc) // second writer, same table
    a.merge(Seq((1, "base")).toDF("user_id", "email"), autoCreateKeys = Seq("user_id"))
    // both observed version 1; A commits v2 first
    a.merge(Seq((2, "from-a")).toDF("user_id", "email"))
    // B raced from the same base: must conflict, and must NOT have
    // clobbered any file A's committed snapshot references
    intercept[IllegalStateException] {
      // force B's stale base by replaying version arithmetic: B reads
      // current (v2) — simulate staleness by committing v3 under B
      // and A concurrently via the log primitive
      val snapA = SnapshotLog.read(loc, 2L)
      SnapshotLog.commit(loc, snapA.copy(version = 3L))
      SnapshotLog.commit(loc, snapA.copy(version = 3L, timestampMs = 42L))
    }
    val stored = a.read().orderBy("user_id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(stored.containsSlice(Seq((1, "base"), (2, "from-a"))))
  }

  test("optimistic commit: racing writers conflict instead of clobbering") {
    val t = tmpTable()
    t.create(accountSchema, Seq("user_id"))
    val base = t.currentSnapshot.get
    val next = base.copy(version = base.version + 1)
    SnapshotLog.commit(t.location, next)
    val e = intercept[IllegalStateException] {
      SnapshotLog.commit(t.location, next.copy(timestampMs = 1L))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the first commit's content is intact
    assert(SnapshotLog.read(t.location, next.version).timestampMs === next.timestampMs)
  }

  test("expiry keeps data files still referenced by live snapshots") {
    val t = tmpTable()
    // v2: two keys spread across buckets
    t.merge((1 to 50).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    // v3: touch only key-1's bucket; every other v2 file is SHARED
    t.merge(Seq((1, "u1-v2")).toDF("user_id", "email"))
    val shared = t.currentSnapshot.get.files.map(_.path)
      .filter(_.startsWith("data/v2-"))
    assert(shared.nonEmpty, "expected v3 to reference surviving v2 files")
    t.expireSnapshots(retentionMs = 0L)
    assert(SnapshotLog.listVersions(t.location).size === 1)
    // shared files survived the expiry of their originating snapshot
    shared.foreach { p =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(t.location).resolve(p)), s"deleted shared file $p")
    }
    assert(t.read().count() === 50)
    assert(t.read().where($"user_id" === 1).head().getString(1) === "u1-v2")
  }

  test("rebucket rewrites under a new bucket count, data and locality intact") {
    val t = tmpTable()
    t.merge((1 to 300).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"), autoCreateBuckets = 4)
    t.rebucket(128)
    assert(t.currentSnapshot.get.numBuckets === 128)
    assert(t.read().count() === 300)
    assert(t.read().where($"user_id" === 7).head().getString(1) === "u7")
    // merges after the rebucket enjoy the new locality
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.merge(Seq((7, "u7-v2")).toDF("user_id", "email"))
    val after = t.currentSnapshot.get.files.map(_.path).toSet
    assert((before -- after).size <= 2)
    assert(t.read().where($"user_id" === 7).head().getString(1) === "u7-v2")
    // bucket pruning works against the new layout
    assert(t.read().where($"user_id" === 7).count() === 1)
  }

  test("maintenance sweep expires across every table in a namespace") {
    val wh = Files.createTempDirectory("graft-maint").toString
    Seq("t_a", "t_b").foreach { name =>
      val t = UpsertTable(spark, s"$wh/cdc/$name")
      t.merge(Seq((1, "a")).toDF("user_id", "email"), autoCreateKeys = Seq("user_id"))
      t.merge(Seq((1, "b")).toDF("user_id", "email"))
    }
    assert(Maintenance.listTables(wh, "cdc") === Seq("t_a", "t_b"))
    val result = Maintenance.expireAll(spark, wh, "cdc", retentionMs = 0L)
    assert(result === Seq("t_a" -> 2, "t_b" -> 2)) // create+v2 expired, v3 kept
    Seq("t_a", "t_b").foreach { name =>
      assert(SnapshotLog.listVersions(s"$wh/cdc/$name").size === 1)
      assert(UpsertTable(spark, s"$wh/cdc/$name").read().count() === 1)
    }
  }

  test("time travel + snapshot expiry (C6)") {
    val t = tmpTable()
    t.merge(Seq((1, "a")).toDF("user_id", "email"), autoCreateKeys = Seq("user_id"))
    t.merge(Seq((1, "b")).toDF("user_id", "email"))
    val versions = SnapshotLog.listVersions(t.location)
    assert(t.readVersion(versions.init.last).head().getString(1) === "a")
    t.expireSnapshots(retentionMs = 0L)
    assert(SnapshotLog.listVersions(t.location) === Seq(versions.last))
    assert(t.read().head().getString(1) === "b")  // current still readable
    intercept[Exception] { t.readVersion(versions.head).count() }
  }

  test("rollback restores an old version as a new commit, history intact") {
    val t = tmpTable()
    t.merge(Seq((1, "good"), (2, "x")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    val goodVersion = SnapshotLog.listVersions(t.location).last
    t.merge(Seq((1, "BAD"), (3, "oops")).toDF("user_id", "email"))
    val badVersion = SnapshotLog.listVersions(t.location).last
    t.rollback(goodVersion)
    // current state is the good version again
    val got = t.read().orderBy("user_id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq === Seq((1, "good"), (2, "x")))
    // the rollback is a NEW version; the bad one remains time-travelable
    val after = SnapshotLog.listVersions(t.location).last
    assert(after === badVersion + 1)
    assert(t.readVersion(badVersion).orderBy("user_id").collect()
      .map(_.getString(1)).toSeq === Seq("BAD", "x", "oops"))
    // writes continue on top of the rollback
    t.merge(Seq((2, "y")).toDF("user_id", "email"))
    assert(t.read().orderBy("user_id").collect()
      .map(_.getString(1)).toSeq === Seq("good", "y"))
    // cannot roll "back" to the current or a future version
    intercept[IllegalArgumentException] { t.rollback(after + 10) }
    // cannot roll back past expiry: expire everything but current,
    // then the good version's manifest is gone
    t.expireSnapshots(retentionMs = 0L)
    intercept[IllegalArgumentException] { t.rollback(goodVersion) }
  }
}
