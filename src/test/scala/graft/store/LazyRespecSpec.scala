package graft.store

import java.nio.file.Files

import org.apache.spark.sql.sources.EqualTo
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Lazy bucket-spec evolution ([[UpsertTable.rebucketLazy]]): the
  * metadata-only respec must leave reads, point-lookup pruning, time
  * travel and the change feed untouched while merges and compaction
  * migrate old-spec files incrementally — including the one genuinely
  * dangerous interleaving (current-spec delta tombstone over an
  * old-spec base) that compaction's mixed-spec closure exists for.
  */
class LazyRespecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): UpsertTable =
    UpsertTable(spark, Files.createTempDirectory("graft-respec").toString)

  private def specs(t: UpsertTable): Set[Int] = {
    val s = t.currentSnapshot.get
    t.currentSnapshot.get.files.map(f =>
      if (f.spec > 0) f.spec else s.numBuckets).toSet
  }

  test("respec is metadata-only: no data moves, reads and lookups intact") {
    val t = tmpTable()
    t.merge((1 to 300).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"), autoCreateBuckets = 4)
    val beforeFiles = t.currentSnapshot.get.files.map(_.path).toSet
    t.rebucketLazy(32)
    val snap = t.currentSnapshot.get
    assert(snap.numBuckets === 32)
    assert(snap.operation === "respec")
    // exactly the same data files, now pinned to the old spec
    assert(snap.files.map(_.path).toSet === beforeFiles)
    assert(snap.files.forall(_.spec === 4))
    assert(t.read().count() === 300)
    // point lookup prunes to the key's bucket under the OLD spec: at 4
    // buckets the selection is ~1/4 of the files, never all of them
    val sel = t.read().where($"user_id" === 7)
    assert(sel.count() === 1)
    val pruned = TestSpark.selectFiles(t, EqualTo("user_id", 7))
    assert(pruned.nonEmpty && pruned.size < snap.files.size)
  }

  test("merges migrate touched old-spec files to the new spec; untouched stay") {
    val t = tmpTable()
    t.merge((1 to 300).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"), autoCreateBuckets = 4)
    t.rebucketLazy(32)
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    t.merge(Seq((7, "u7-v2")).toDF("user_id", "email"))
    val snap = t.currentSnapshot.get
    val after = snap.files.map(_.path).toSet
    // exactly one old-spec file (key 7's bucket under spec 4) was
    // consumed; its survivors came back under the current spec
    assert((before -- after).size === 1)
    assert((before intersect after).size === 3)
    val newOnes = snap.files.filterNot(f => before(f.path))
    assert(newOnes.nonEmpty && newOnes.forall(_.spec === 0))
    assert(specs(t) === Set(4, 32))
    // data correct across the mixed layout
    assert(t.read().count() === 300)
    assert(t.read().where($"user_id" === 7).head().getString(1) === "u7-v2")
    assert(t.read().where($"user_id" === 7)
      .head().getString(1) === "u7-v2")
    // an untouched key still resolves through its old-spec bucket
    assert(t.read().where($"user_id" === 250)
      .head().getString(1) === "u250")
  }

  test("compaction folds the old layout over; tombstones never resurrect") {
    val t = tmpTable()
    t.merge((1 to 100).map(i => (i, s"u$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"), autoCreateBuckets = 4)
    t.rebucketLazy(32)
    // the dangerous interleaving: a delta-merge AFTER the respec
    // writes a current-spec tombstone for a key whose base row still
    // sits in an old-spec file
    t.merge(Seq((7, "u7-dead", "d", 1L)).toDF("user_id", "email", "op", "off"),
      opCol = Some("op"), orderCol = Some("off"), delta = true)
    assert(t.read().where($"user_id" === 7).count() === 0)
    t.compact(1)
    val snap = t.currentSnapshot.get
    // the closure migrated every old-spec file: single spec again
    assert(snap.files.forall(f => f.spec === 0 || f.spec === 32))
    assert(!snap.files.exists(FileEntry.isDelta))
    // the tombstoned key stays dead and nothing else was lost
    assert(t.read().where($"user_id" === 7).count() === 0)
    assert(t.read().count() === 99)
    assert(t.read().where($"user_id" === 8).head().getString(1) === "u8")
  }

  test("time travel, rollback and the change feed cross the respec boundary") {
    val t = tmpTable()
    t.merge((1 to 50).map(i => (i, s"u$i", "u", i.toLong))
        .toDF("user_id", "email", "op", "off"),
      opCol = Some("op"), orderCol = Some("off"),
      autoCreateKeys = Seq("user_id"), autoCreateBuckets = 4,
      delta = true)
    val vBefore = t.currentSnapshot.get.version
    t.rebucketLazy(16)
    t.merge(Seq((7, "u7-v2", "u", 99L)).toDF("user_id", "email", "op", "off"),
      opCol = Some("op"), orderCol = Some("off"), delta = true)
    val vAfter = t.currentSnapshot.get.version
    // time travel to the pre-respec version
    assert(t.readVersion(vBefore).count() === 50)
    // the respec commit itself is transparent to the change feed
    val feed = t.changeFeedEntries(vBefore, vAfter)
    assert(feed.map(_._1) === Seq(vAfter))
    // rollback across the boundary restores the old spec wholesale
    t.rollback(vBefore)
    val snap = t.currentSnapshot.get
    assert(snap.numBuckets === 4)
    assert(t.read().count() === 50)
    assert(t.read().where($"user_id" === 7).head().getString(1) === "u7")
  }
}
