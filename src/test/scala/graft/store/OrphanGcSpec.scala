package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[UpsertTable.removeOrphanFiles]]: crash leftovers (data files no
  * snapshot references) are collected, referenced files and recent
  * (possibly in-flight) files survive, table content is untouched.
  */
class OrphanGcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def planted(t: UpsertTable, name: String, ageMs: Long): String = {
    // simulate a lost commit attempt: a real parquet file inside an
    // unpublished attempt directory
    val live = s"${t.location}/${t.currentSnapshot.get.files.head.path}"
    val dir = Paths.get(t.location, "data", name, "__bucket=0")
    Files.createDirectories(dir)
    val f = dir.resolve("part-orphan.parquet")
    Files.copy(Paths.get(live), f, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    s"data/$name/__bucket=0/part-orphan.parquet"
  }

  test("removes old orphans, keeps referenced and recent files, content intact") {
    val t = UpsertTable(spark,
      Files.createTempDirectory("graft-gc").toString)
    t.merge(Seq((1, "a"), (2, "b")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    t.merge(Seq((2, "b2"), (3, "c")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    val before = t.read().orderBy("user_id").collect().toSeq

    val old = planted(t, "v99-deadbeef", ageMs = 7200 * 1000L)
    val fresh = planted(t, "v99-cafebabe", ageMs = 0L)

    // retentions under 24h need the explicit override (an in-flight
    // commit's files must outlive the cutoff — Iceberg's contract)
    intercept[IllegalArgumentException] {
      t.removeOrphanFiles(olderThanMs = 3600 * 1000L)
    }

    val removed = t.removeOrphanFiles(olderThanMs = 3600 * 1000L,
      allowShortRetention = true)
    assert(removed === Seq(old))
    // the stale attempt dir is pruned, the fresh one survives
    assert(!Files.exists(Paths.get(t.location).resolve(old)))
    assert(Files.exists(Paths.get(t.location).resolve(fresh)))
    // every referenced file still present; reads identical
    t.currentSnapshot.get.files.foreach(f =>
      assert(Files.exists(Paths.get(t.location, f.path)), f.path))
    assert(t.read().orderBy("user_id").collect().toSeq === before)

    // idempotent: nothing old remains
    assert(t.removeOrphanFiles(olderThanMs = 3600 * 1000L,
      allowShortRetention = true).isEmpty)
    // dropping the retention collects the fresh orphan too
    assert(t.removeOrphanFiles(olderThanMs = -1L,
      allowShortRetention = true) === Seq(fresh))
    assert(t.read().orderBy("user_id").collect().toSeq === before)
  }

  test("a dead attempt goes whole: sidecars, markers and a killed writer's _temporary tree") {
    val t = UpsertTable(spark,
      Files.createTempDirectory("graft-gc-walk").toString)
    t.merge((1 to 40).map(i => (i, s"e$i")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    t.merge(Seq((2, "b2")).toDF("user_id", "email"))
    // expiry deletes the replaced bucket's data files, not their
    // sidecars, nor the markers of an attempt it empties
    t.expireSnapshots(retentionMs = -1L)
    val before = t.read().orderBy("user_id").collect().toSeq
    val root = Paths.get(t.location)
    val data = root.resolve("data")
    def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    def aged(dir: java.nio.file.Path): Unit = files(dir).foreach(f =>
      Files.setLastModifiedTime(f,
        FileTime.fromMillis(System.currentTimeMillis() - 7200 * 1000L)))

    // a lost attempt: a copy of a real attempt directory as the writer
    // left it, checksum sidecars and _SUCCESS marker included
    val real = data.resolve(
      Paths.get(t.currentSnapshot.get.files.head.path).getName(1))
    assert(Files.exists(real.resolve("_SUCCESS")) &&
      Files.exists(real.resolve("._SUCCESS.crc")))
    val lost = data.resolve("v99-0c0b1ed0")
    files(real).foreach { f =>
      val to = lost.resolve(real.relativize(f))
      Files.createDirectories(to.getParent)
      Files.copy(f, to)
    }
    aged(lost)
    // a killed writer: task output never moved out of _temporary/
    val part = files(real).find(_.toString.endsWith(".parquet")).get
    val task = data.resolve("v98-de4dbeef/_temporary/0/" +
      "task_202610190000_0001_m_000000/__bucket=0")
    Files.createDirectories(task)
    Files.copy(part, task.resolve(part.getFileName))
    Files.copy(part.resolveSibling(s".${part.getFileName}.crc"),
      task.resolve(s".${part.getFileName}.crc"))
    aged(data.resolve("v98-de4dbeef"))
    val planted = (files(lost) ++ files(task))
      .map(root.relativize(_).toString).filter(_.endsWith(".parquet")).sorted

    assert(t.removeOrphanFiles(olderThanMs = 3600 * 1000L,
      allowShortRetention = true) === planted)
    assert(!Files.exists(lost) && !Files.exists(data.resolve("v98-de4dbeef")))
    // past every cutoff, what expiry left goes too; no parquet file is
    // unreferenced any more
    assert(t.removeOrphanFiles(olderThanMs = -1L,
      allowShortRetention = true).isEmpty)

    val referenced = SnapshotLog.listVersions(t.location).flatMap(v =>
      SnapshotLog.read(t.location, v).files.map(f => root.resolve(f.path))).toSet
    val liveAttempts = referenced.map(f => data.resolve(data.relativize(f).getName(0)))
    def sidecarOf(f: java.nio.file.Path): Option[java.nio.file.Path] = {
      val n = f.getFileName.toString
      if (n.startsWith(".") && n.endsWith(".crc"))
        Some(f.resolveSibling(n.drop(1).dropRight(4)))
      else None
    }
    def marker(f: java.nio.file.Path): Boolean =
      f.getFileName.toString == "_SUCCESS" && liveAttempts(f.getParent)
    files(data).foreach { f =>
      assert(referenced(f) || marker(f) ||
        sidecarOf(f).exists(p => referenced(p) || marker(p)),
        s"left behind: ${root.relativize(f)}")
    }
    referenced.foreach(f => assert(Files.exists(f), f))
    assert(t.read().orderBy("user_id").collect().toSeq === before)
  }

  test("namespace sweep reports per-table removal counts") {
    val wh = Files.createTempDirectory("graft-gc-ns").toString
    val a = UpsertTable(spark, s"$wh/ns/ta")
    val b = UpsertTable(spark, s"$wh/ns/tb")
    a.merge(Seq((1, "x")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    b.merge(Seq((1, "y")).toDF("user_id", "email"),
      autoCreateKeys = Seq("user_id"))
    planted(a, "v50-00000000", ageMs = 7200 * 1000L)
    val got = Maintenance.gcAll(spark, wh, "ns", olderThanMs = 3600 * 1000L,
      allowShortRetention = true)
    assert(got.toMap === Map("ta" -> 1, "tb" -> 0))
  }
}
