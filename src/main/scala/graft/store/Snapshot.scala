package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.types.{DataType, StructType}

/** One committed version of an [[UpsertTable]] — the analog of an
  * Iceberg v2 snapshot (reference: flink_json_to_iceberg.py:68-69
  * `'format-version'='2'`, `'write.upsert.enabled'='true'`).
  *
  * @param version     monotonically increasing snapshot id
  * @param schemaJson  Spark StructType JSON of the table schema
  * @param keyCols     primary-key columns (PRIMARY KEY NOT ENFORCED ≙
  *                    reference py:66,82; connect-iceberg-sink.json:28-29)
  * @param numBuckets  key-hash bucket count — merge locality unit; only
  *                    buckets containing batch keys are rewritten, the
  *                    analog of Iceberg equality-delete locality
  * @param files       data files (paths relative to table root) + bucket
  * @param committed   streamId -> last applied batchId, for exactly-once
  *                    replay no-ops (SURVEY.md §2.3 C4)
  * @param timestampMs wall-clock commit time (drives expiry, C6)
  * @param operation   what kind of commit produced this version
  *                    ("create" / "merge" / "delta-merge" / "compact" /
  *                    "cluster" / "rewrite" / "respec" / "evolve" /
  *                    "overwrite" / "rollback"; "" on manifests written
  *                    before the field existed) — drives the change feed's
  *                    servability check and commit-history inspection
  * @param lookupCols  declared secondary-lookup columns: every commit
  *                    records a per-file Bloom filter for each (see
  *                    [[FileEntry.blooms]]), so reverse lookups (GDPR
  *                    erasure's user → rows) prune files instead of
  *                    scanning the table. Persisted so maintenance
  *                    commits (compaction) keep collecting in sessions
  *                    that never set the conf.
  */
case class Snapshot(
    version: Long,
    schemaJson: String,
    keyCols: Seq[String],
    numBuckets: Int,
    files: Seq[FileEntry],
    committed: Map[String, Long],
    timestampMs: Long,
    operation: String = "",
    lookupCols: Seq[String] = Nil) {

  /** The table schema this version was committed under. */
  def schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Whether this version carries merge-on-read delta files. */
  def hasDeltas: Boolean = files.exists(FileEntry.isDelta)
}

/** One data file: manifest-relative path, key-hash bucket, per-column
  * bounds for planning-time file skipping (see [[FileStats]]; empty
  * map = no stats, never pruned), and its merge-on-read role:
  *
  *  - `kind = "base"`: current-state rows, every key at most once
  *    across a bucket's base files (merge-on-write output).
  *  - `kind = "delta"`: one commit's normalized changelog for the
  *    bucket — schema columns plus `__op` (`u`/`d` tombstone) and
  *    `__seq` (the committing snapshot version). Readers overlay
  *    deltas on base by latest-`__seq`-per-key (base rows rank 0);
  *    [[UpsertTable.compact]] collapses them back into base.
  *
  * `blooms` maps each declared lookup column (see
  * [[Snapshot.lookupCols]]) to the base64 of a spark-sketch
  * BloomFilter over the file's non-null values — the Iceberg
  * puffin-blob analog. No false negatives ever, so pruning by bloom is
  * always sound; absence of an entry means "cannot prune this file".
  *
  * `spec` is the bucket COUNT the file's `bucket` id was assigned
  * under (Iceberg partition-spec-id analog): 0 means "the snapshot's
  * own current `numBuckets`" — every file is written under the spec
  * current at its commit, so 0 is always correct UNTIL a lazy respec
  * changes `numBuckets` without rewriting data; that commit
  * ([[UpsertTable.rebucketLazy]]) pins each pre-existing file's spec
  * explicitly, and bucket-driven logic (merge touch sets, point-lookup
  * pruning, compaction grouping) resolves ids per file spec from then
  * on. Merges and compaction migrate touched old-spec files to the
  * current spec incrementally — the 100 TB path where a one-shot
  * rewrite is not an option.
  */
case class FileEntry(path: String, bucket: Int,
    stats: Map[String, ColStats] = Map.empty,
    kind: String = FileEntry.Base, seq: Long = 0L,
    blooms: Map[String, String] = Map.empty,
    spec: Int = 0) {

  /** The bucket count `bucket` was assigned under, in a snapshot whose
    * current count is `current`. */
  def specUnder(current: Int): Int = if (spec > 0) spec else current
}

object FileEntry {
  val Base = "base"
  val Delta = "delta"
  def isDelta(f: FileEntry): Boolean = f.kind == Delta
}

/** Manifest-log IO: `_snapshots/v{N}.json`, crash-safe via
  * write-temp-then-atomic-rename; current = max N. Single-writer, like
  * the reference's single sink task (connect-iceberg-sink.json:5
  * `tasks.max=1`); readers see a complete manifest or none.
  */
object SnapshotLog {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def snapshotsDir(tableRoot: String): Path = Paths.get(tableRoot, "_snapshots")

  def listVersions(tableRoot: String): Seq[Long] =
    graft.Fs.children(snapshotsDir(tableRoot))
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted

  private def manifest(tableRoot: String, version: Long): Path =
    snapshotsDir(tableRoot).resolve(f"v$version%08d.json")

  /** Whether `version` is committed and unexpired: one file check. */
  def exists(tableRoot: String, version: Long): Boolean =
    Files.exists(manifest(tableRoot, version))

  def read(tableRoot: String, version: Long): Snapshot = {
    val bytes = Files.readAllBytes(manifest(tableRoot, version))
    val s = mapper.readValue(bytes, classOf[Snapshot])
    // Long erases to Object in the Map's generic signature, so Jackson
    // materializes small values as Integer — normalize. Manifests
    // written before stats existed deserialize with a null map.
    s.copy(
      committed = (s.committed: Map[String, Any]).map { case (k, v) =>
        k -> v.asInstanceOf[Number].longValue() },
      operation = if (s.operation == null) "" else s.operation,
      lookupCols = if (s.lookupCols == null) Nil else s.lookupCols,
      files = s.files.map { f0 =>
        val f1 = if (f0.stats == null) f0.copy(stats = Map.empty) else f0
        val f = if (f1.blooms == null) f1.copy(blooms = Map.empty) else f1
        if (f.kind == null) f.copy(kind = FileEntry.Base) else f
      })
  }

  def current(tableRoot: String): Option[Snapshot] =
    listVersions(tableRoot).lastOption.map(read(tableRoot, _))

  def commit(tableRoot: String, s: Snapshot): Unit = {
    val dir = snapshotsDir(tableRoot)
    Files.createDirectories(dir)
    val target = manifest(tableRoot, s.version)
    val tmp = Files.createTempFile(dir, s".v${s.version}", ".tmp")
    Files.write(tmp, mapper.writeValueAsString(s).getBytes(StandardCharsets.UTF_8))
    // optimistic concurrency: hard-link creation is atomic-exclusive
    // (fails if the version already exists), so two writers racing to
    // commit the same base version cannot clobber each other — the
    // loser gets a conflict instead (Iceberg's optimistic commit)
    try Files.createLink(target, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent commit: $target already exists — another writer " +
            "committed this version first; re-read and retry the merge")
    } finally Files.deleteIfExists(tmp)
  }

  def delete(tableRoot: String, version: Long): Unit =
    Files.deleteIfExists(manifest(tableRoot, version))
}

/** A named snapshot ref — the Iceberg branch/tag analog. `kind` is
  * "tag" (immutable pin) or "branch" (fast-forwardable pointer, e.g.
  * the WAP `main` publish ref readers consume while writers advance
  * the head). Refs pin their version against [[UpsertTable.expireSnapshots]].
  */
case class TableRef(name: String, kind: String, version: Long)

object RefLog {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private val NamePattern = "^[A-Za-z0-9_.-]{1,64}$".r

  def refsDir(tableRoot: String): Path = Paths.get(tableRoot, "_refs")

  private def refPath(tableRoot: String, name: String): Path = {
    require(NamePattern.findFirstIn(name).isDefined,
      s"invalid ref name '$name' (want [A-Za-z0-9_.-]{1,64})")
    refsDir(tableRoot).resolve(s"$name.json")
  }

  def list(tableRoot: String): Seq[TableRef] =
    graft.Fs.children(refsDir(tableRoot))
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => mapper.readValue(Files.readAllBytes(p), classOf[TableRef]))
      .sortBy(_.name)

  def read(tableRoot: String, name: String): Option[TableRef] = {
    val p = refPath(tableRoot, name)
    if (Files.exists(p))
      Some(mapper.readValue(Files.readAllBytes(p), classOf[TableRef]))
    else None
  }

  /** Atomic write-or-replace (tmp + move); exclusive creation is
    * enforced by callers via [[read]] under the table lock.
    */
  def write(tableRoot: String, ref: TableRef): Unit = {
    val dir = refsDir(tableRoot)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${ref.name}", ".tmp")
    Files.write(tmp,
      mapper.writeValueAsString(ref).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, refPath(tableRoot, ref.name),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def delete(tableRoot: String, name: String): Boolean =
    Files.deleteIfExists(refPath(tableRoot, name))
}
