package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Native keyed upsert table — the Spark-first re-implementation of the
  * reference's Iceberg v2 upsert sink semantics
  * (flink_json_to_iceberg.py:61-91: `PRIMARY KEY … NOT ENFORCED`,
  * `'write.upsert.enabled'='true'`; connect-iceberg-sink.json:12-14,28-29:
  * auto-create, schema-evolve, upsert/delete by id-columns).
  *
  * Layout under `location`:
  * {{{
  *   data/v{N}/__bucket={b}/part-*.parquet   (files written by commit N)
  *   _snapshots/v{N}.json                    (manifest; current = max N)
  * }}}
  *
  * Scale design: rows are hash-bucketed by key. A merge only reads and
  * rewrites the buckets that contain batch keys — at 100 TB with e.g.
  * 4096 buckets, a small CDC batch touches a handful of buckets instead
  * of rewriting the table (the analog of Iceberg equality-delete
  * locality). Every commit that writes data — merge, compaction,
  * clustering, rewrites, overwrite — writes through one bucketed
  * writer ([[writeFiles]]): one file per written bucket, sorted by key
  * within it, whose write tasks return each file's manifest entry
  * (bounds and lookup blooms included). Reads are plain vectorized
  * parquet scans over the current snapshot's file list, planned from
  * the manifest by [[StoreFileIndex]] (no directory listing), the one
  * planner that picks each scan's files from the predicates Spark
  * pushes to it: key bucket, column bounds and lookup blooms.
  */
class UpsertTable(spark: SparkSession, val location: String) {
  import UpsertTable._

  private def root: Path = Paths.get(location)

  def exists: Boolean = currentSnapshot.isDefined

  def currentSnapshot: Option[Snapshot] = SnapshotLog.current(location)

  def schema: StructType = snapshotOrFail.schema

  def keyCols: Seq[String] = snapshotOrFail.keyCols

  private def snapshotOrFail: Snapshot =
    currentSnapshot.getOrElse(
      throw new IllegalStateException(s"table does not exist: $location"))

  /** Explicit create (reference `CREATE TABLE IF NOT EXISTS`, py:61-75).
    * `numBuckets <= 0` (the default) resolves to the session conf
    * `graft.store.numBuckets`, falling back to [[UpsertTable.DefaultBuckets]] —
    * a 100 TB deployment sets the conf to 4096+ so a CDC batch rewrites
    * only a tiny fraction of the table.
    */
  def create(schema: StructType, keys: Seq[String],
      numBuckets: Int = 0): Unit =
    createOver(currentSnapshot, schema, keys, numBuckets)

  /** [[create]] over the resolved current snapshot `cur`: returns it,
    * or commits and returns version 1. */
  private def createOver(cur: Option[Snapshot], schema: StructType,
      keys: Seq[String], numBuckets: Int): Snapshot = {
    val buckets =
      if (numBuckets > 0) numBuckets
      else spark.conf.getOption(BucketsConf).map(_.toInt).getOrElse(DefaultBuckets)
    require(keys.nonEmpty, "upsert table needs key columns")
    keys.foreach(k => require(schema.fieldNames.contains(k), s"missing key col $k"))
    cur.getOrElse {
      Files.createDirectories(root)
      publish(0L, "create", Snapshot(
        version = 0L,
        schemaJson = allNullable(schema).json,
        keyCols = keys,
        numBuckets = buckets,
        files = Seq.empty,
        committed = Map.empty,
        timestampMs = 0L,
        lookupCols = confLookupCols))
    }
  }

  /** Current-state read: a plain vectorized scan when the snapshot is
    * all base files; with deltas present (merge-on-read commits, see
    * [[merge]]'s `delta` flag) the base is overlaid with the delta
    * changelog by latest-`__seq`-per-key before tombstones drop.
    */
  def read(): DataFrame = readSnapshot(snapshotOrFail)

  /** Whether the current snapshot carries merge-on-read delta files. */
  def hasDeltas: Boolean = snapshotOrFail.hasDeltas

  /** Time travel: read a specific committed version (Iceberg snapshot
    * read analog; enables the expiry semantics of snapshot_mgmt.py).
    */
  def readVersion(version: Long): DataFrame =
    readSnapshot(SnapshotLog.read(location, version))

  /** Merkle-style logical content fingerprints, one row per key
    * bucket: `(bucket, n_rows, fp)` where `fp` is the SUM of per-row
    * hash integers (60-bit md5 prefix of the row's sorted-column JSON)
    * as an exact decimal(38,0) — a commutative SET hash, so it is a
    * mergeable partial aggregate (scales like any groupBy at 100 TB),
    * layout-independent (same logical rows ⇒ same fp under any file
    * arrangement, compaction, or partitioning), and INCREMENTALLY
    * maintainable: fp(after) − fp(before) = Σ hash(new rows) −
    * Σ hash(replaced rows), which is how q371 audits a delta commit
    * in O(batch) instead of re-reading the table. The root (whole
    * table) fingerprint is the sum over buckets. Collision note: a
    * forged collision needs md5-prefix sums to match — fine for
    * corruption/drift AUDITS (the Iceberg manifest-checksum role),
    * not a cryptographic commitment.
    */
  def bucketFingerprints(version: Option[Long] = None): DataFrame = {
    val snap = version.map(SnapshotLog.read(location, _))
      .getOrElse(snapshotOrFail)
    val df = readSnapshot(snap)
    df.withColumn("__rh", UpsertTable.rowFingerprint(df.columns))
      .withColumn("__b",
        UpsertTable.bucketExpr(snap.keyCols, snap.numBuckets))
      .groupBy(col("__b").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("cast(__rh as decimal(38,0))")).as("fp"))
  }

  /** Commit history, newest first: (version, operation, timestampMs) —
    * the DESCRIBE HISTORY surface. */
  def history(): Seq[(Long, String, Long)] =
    SnapshotLog.listVersions(location).reverse.map { v =>
      val s = SnapshotLog.read(location, v)
      (s.version, s.operation, s.timestampMs)
    }

  /** Incremental change feed (the Delta CDF / Iceberg incremental-scan
    * / Paimon changelog role): the exact row-level changes committed in
    * versions `(fromVersionExclusive, toVersionInclusive]`, as the data
    * columns plus `_change_op` (`u` upsert / `d` delete) and
    * `_commit_version`. This is what lets a downstream pipeline consume
    * a 100 TB table INCREMENTALLY — O(changed rows) per poll instead of
    * re-reading state.
    *
    * Served from the delta files each `delta`-merge recorded in its own
    * manifest, which stay readable after later compaction folds them
    * out of the current snapshot (until snapshot expiry deletes them —
    * the feed's retention window). Commits that rewrite state without
    * recording row-level deltas (full `merge`, `overwrite`, `rollback`)
    * make a range unservable and FAIL LOUDLY rather than return an
    * incomplete feed; layout-only commits (`compact` / `cluster` /
    * `rewrite` / `evolve` / `create`) are transparent. Rows are aligned
    * to the schema at `toVersionInclusive` (cast/null-fill across
    * evolution).
    */
  def readChanges(fromVersionExclusive: Long,
      toVersionInclusive: Long): DataFrame = {
    val targetSchema = SnapshotLog.read(location, toVersionInclusive).schema
    val frames = changeFeedEntries(fromVersionExclusive, toVersionInclusive)
      .map { case (v, s, deltas) =>
        val deltaSchema = StructType(s.schema.fields ++ Seq(
          StructField(OpCol, StringType), StructField(SeqCol, LongType)))
        alignTypes(readFiles(s, deltas, deltaSchema), targetSchema)
          .select((targetSchema.fieldNames.map(col) :+
            // delta files hold the raw source op (Debezium r|c|u|d) —
            // normalize to the feed's documented u/d contract so
            // consumers filtering on "u" don't drop 'c' inserts
            when(col(OpCol) === "d", "d").otherwise("u").as("_change_op") :+
            lit(v).as("_commit_version")): _*)
      }
    frames.reduceOption(_ unionByName _).getOrElse {
      val empty = StructType(targetSchema.fields ++ Seq(
        StructField("_change_op", StringType),
        StructField("_commit_version", LongType)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), empty)
    }
  }

  /** The delta-file evidence serving a change feed over
    * `(fromVersionExclusive, toVersionInclusive]`: one (version,
    * snapshot, that commit's delta files) triple per contributing
    * commit, enforcing [[readChanges]]'s servability contract —
    * expired versions and data commits that recorded no row-level
    * deltas fail loudly; layout-only commits are transparent. Shared
    * by the batch [[readChanges]] and the streaming source
    * ([[graft.streaming.ChangeFeed]]), so both serve IDENTICAL feeds.
    */
  def changeFeedEntries(fromVersionExclusive: Long,
      toVersionInclusive: Long): Seq[(Long, Snapshot, Seq[FileEntry])] = {
    require(fromVersionExclusive < toVersionInclusive,
      s"need fromVersionExclusive < toVersionInclusive, got " +
        s"($fromVersionExclusive, $toVersionInclusive]")
    val wanted = (fromVersionExclusive + 1) to toVersionInclusive
    val missing = wanted.filterNot(SnapshotLog.exists(location, _))
    require(missing.isEmpty,
      s"change feed over ($fromVersionExclusive, $toVersionInclusive] " +
        s"unservable: version(s) ${missing.mkString(",")} expired")
    val layoutOnly = Set("compact", "cluster", "rewrite", "evolve", "create",
      "respec")
    wanted.toSeq.flatMap { v =>
      val s = SnapshotLog.read(location, v)
      val deltas = s.files.filter(f => FileEntry.isDelta(f) && f.seq == v)
      s.operation match {
        case "delta-merge" => Some((v, s, deltas))
        // manifests from before the operation field: trust the file
        // evidence — delta files recorded at v mean a delta commit
        case "" if deltas.nonEmpty => Some((v, s, deltas))
        case op if layoutOnly.contains(op) => None
        case "" if s.files.isEmpty => None // pre-field create
        case op => throw new IllegalStateException(
          s"change feed over ($fromVersionExclusive, $toVersionInclusive] " +
            s"unservable: v$v is a '$op' commit whose changes were not " +
            "recorded as row-level deltas")
      }
    }
  }

  /** Bucket id under the current spec for a full primary-key value
    * tuple, or None if any key column is missing: the driver-side hash
    * the file planner prunes by ([[StoreFileIndex]]).
    */
  def bucketFor(keyValues: Map[String, Any]): Option[Int] = {
    val s = snapshotOrFail
    if (!s.keyCols.forall(keyValues.contains)) None
    else Some(StoreFileIndex.bucketOf(s.schema, s.keyCols, s.keyCols.map(keyValues),
      s.numBuckets))
  }

  /** Current-state read of one resolved snapshot (see [[read]]). */
  def readSnapshot(s: Snapshot): DataFrame = mergedView(s, s.files)

  /** Current-state view over a file subset: base files verbatim when
    * no deltas are present (the zero-overhead fast path — a single
    * vectorized scan); otherwise the file reads feed [[overlay]]: the
    * deltas alone are normalized to their latest row per key by
    * `__seq`, the committing version (a `max_by` partial aggregation
    * bounded by distinct changed keys, see [[ChangelogNormalize]]),
    * and overlaid on the base rows. Sound because a key lives in at
    * most one base file ([[FileEntry]]) and every delta outranks base.
    * This is the read tax merge-on-read trades for O(batch) commits;
    * [[compact]] pays it down.
    */
  private def mergedView(snap: Snapshot, files: Seq[FileEntry]): DataFrame = {
    val (schema, keys) = (snap.schema, snap.keyCols)
    val (deltas, bases) = files.partition(FileEntry.isDelta)
    val base = readFiles(snap, bases, schema)
    if (deltas.isEmpty) return base
    val deltaSchema = StructType(schema.fields ++ Seq(
      StructField(OpCol, StringType), StructField(SeqCol, LongType)))
    overlay(base, ChangelogNormalize.latestByKey(
      readFiles(snap, deltas, deltaSchema), keys, SeqCol), schema, keys)
  }

  /** The only fold of changes into stored rows (reads, [[compact]], the
    * merge-on-write rewrite): `latest` (one row per key, with [[OpCol]])
    * replaces its key's `base` row, `d` tombstones drop, base rows never
    * shuffle ([[keyJoin]]), and NULL is a key value, as in `groupBy`. */
  private def overlay(base: DataFrame, latest: DataFrame, schema: StructType,
      keys: Seq[String]): DataFrame =
    keyJoin(base, latest, keys, "left_anti").unionByName(latest
      .where(col(OpCol) =!= "d").select(schema.fieldNames.map(col).toSeq: _*))

  private def readFiles(snap: Snapshot, files: Seq[FileEntry],
      schema: StructType): DataFrame =
    StoreFileIndex.read(spark, location, snap, files, schema)

  /** CDC/upsert merge of one micro-batch (SURVEY.md §2.3 C1/C2/C4).
    *
    * @param batch    rows holding the table's data columns (+ opCol/orderCol)
    * @param opCol    optional column with Debezium ops `r|c|u|d`; `d`
    *                 removes the key, anything else upserts. None = all upserts.
    * @param orderCol optional column giving arrival order inside the
    *                 batch (offset/LSN); highest wins per key. None is
    *                 only valid when every key appears at most once in
    *                 the batch (validated) — with duplicate keys and no
    *                 order, "last wins" would be partition-order
    *                 dependent and silently nondeterministic at scale.
    * @param streamId/batchId exactly-once replay guard: a (streamId,
    *                 batchId) at or below the recorded watermark is a
    *                 no-op (reference checkpoint/commit cycle, C4).
    * @param autoCreateKeys create the table from the batch schema with
    *                 these keys if absent (sink auto-create, S6).
    * @param delta    merge-on-read commit: append the normalized batch
    *                 as per-bucket DELTA files (O(batch) write — no
    *                 bucket rewrite) instead of rewriting affected
    *                 buckets. Readers overlay deltas by latest
    *                 `__seq` per key; [[compact]] collapses them back
    *                 into base. This is how a 10 s-cadence stream over
    *                 random keys avoids rewriting the whole table
    *                 every commit at 100 TB (the Iceberg-v2
    *                 equality-delete / Paimon changelog pattern the
    *                 reference sink relies on). A widening the parquet
    *                 reader cannot serve falls back to the full
    *                 rewrite (the manifest schema must stay readable
    *                 over every live file).
    * @return the snapshot this merge committed — or, for a replayed
    *         batch, the current one it left untouched
    *
    * The commit kind is decided before any touch set: a delta commit
    * writes the batch straight through [[writeFiles]] and computes
    * none; a rewriting commit collects the touched buckets under each
    * live spec to choose the files it rewrites, folds the batch over
    * them through [[overlay]] and writes through the same writer.
    */
  def merge(
      batch: DataFrame,
      opCol: Option[String] = None,
      orderCol: Option[String] = None,
      streamId: Option[String] = None,
      batchId: Option[Long] = None,
      autoCreateKeys: Seq[String] = Seq.empty,
      autoCreateBuckets: Int = 0,
      delta: Boolean = false): Snapshot = synchronized {
    val metaCols = opCol.toSeq ++ orderCol.toSeq
    val batchDataSchema = StructType(
      batch.schema.fields.filterNot(f => metaCols.contains(f.name)))

    val snap = currentSnapshot.getOrElse {
      require(autoCreateKeys.nonEmpty,
        s"table $location does not exist and no autoCreateKeys given")
      createOver(None, batchDataSchema, autoCreateKeys, autoCreateBuckets)
    }

    // exactly-once: replayed micro-batches are no-ops (C4)
    val replayed = for {
      sid <- streamId; bid <- batchId; last <- snap.committed.get(sid)
    } yield bid <= last
    if (replayed.contains(true)) return snap

    // schema evolution (S6): additive columns; numeric widening;
    // anything else incompatible is rejected
    val oldSchema = snap.schema
    val (newSchema, _) = evolve(oldSchema, batchDataSchema)
    val dataCols = newSchema.fieldNames.toSeq

    // align batch to evolved schema (missing cols → null, widen casts);
    // opCol/orderCol meta columns ride along untouched
    val aligned0 = alignTypes(batch, newSchema)
    // in-batch changelog-normalize: last row per key wins (C1), as a
    // max_by aggregation, not a row_number window: partial
    // aggregation bounds the shuffle by distinct keys and keeps
    // skewed keys parallel (see ChangelogNormalize). Without an order
    // column there is no defined arrival order, so duplicate keys in
    // the batch are an error rather than a partition-order-dependent
    // coin flip — detected via the __cnt that rides the SAME
    // aggregation (checked against the cached result below), not a
    // second full-batch shuffle.
    val pre = aligned0
      .withColumn("__ord", orderCol.map(col).getOrElse(lit(0L)))
      .withColumn("__op", opCol.map(col).getOrElse(lit("u")))
      .select((dataCols.map(col) :+ col("__op") :+ col("__ord")): _*)
    val counted = ChangelogNormalize
      .latestByKey(pre, snap.keyCols, "__ord", withCount = orderCol.isEmpty)
      .cache()
    val normalized =
      if (orderCol.isEmpty) counted.drop("__cnt") else counted

    try {
      if (orderCol.isEmpty)
        require(counted.where(col("__cnt") > 1).limit(1).count() == 0L,
          s"batch has duplicate keys for $location but no orderCol; " +
            "pass orderCol so last-wins is deterministic")
      val committed = snap.committed ++
        (for { s <- streamId; b <- batchId } yield s -> b)

      // A READ-PROMOTABLE widening does not touch extra buckets: files
      // in untouched buckets keep their narrow physical type and are
      // served by cast-on-read under the manifest schema; the physical
      // rewrite is deferred to [[rewriteData]] maintenance. A 100 TB
      // table therefore absorbs an int→long evolution without a full
      // rewrite inside a merge commit. Only a widening the parquet
      // reader cannot serve (long→double) still forces the full
      // rewrite — the manifest schema must stay readable over every
      // live file.
      val unservableWiden = unservableWidening(oldSchema, newSchema)

      if (delta && !unservableWiden) {
        // merge-on-read commit: write ONLY the normalized batch, as
        // per-bucket delta files carrying the op and this commit's
        // sequence — existing files are untouched, so the write cost
        // is O(batch) regardless of how many buckets the keys span,
        // and no touch set is needed to size or route it
        val version = snap.version + 1
        val deltas = writeFiles(snap, normalized.withColumn(SeqCol, lit(version)),
            snap.numBuckets, newSchema, snap.keyCols.map(col))
          .map(_.copy(kind = FileEntry.Delta, seq = version))
        return publish(snap.version, "delta-merge", snap.copy(
          schemaJson = newSchema.json,
          files = snap.files ++ deltas,
          committed = committed))
      }

      // buckets touched by this batch — bounded by numBuckets, safe to
      // collect. After a lazy respec the manifest carries files under
      // more than one bucket spec; the touch set is computed PER LIVE
      // SPEC (one bounded distinct-collect each — at most two specs in
      // steady state), so a batch key finds its bucket under every
      // layout it might live in. Touched old-spec files are rewritten
      // under the CURRENT spec — the incremental migration path.
      val liveSpecs =
        (snap.files.map(_.specUnder(snap.numBuckets)) :+ snap.numBuckets).distinct
      val touchedBySpec: Map[Int, Set[Int]] = liveSpecs.map { n =>
        n -> (if (unservableWiden) (0 until n).toSet
        else normalized.select(bucketExpr(snap.keyCols, n).as("b"))
          .distinct().collect().map(_.getInt(0)).toSet)
      }.toMap

      val (oldAffected, untouched) = snap.files.partition(f =>
        touchedBySpec(f.specUnder(snap.numBuckets))(f.bucket))
      // current-state view of the rewritten buckets under the OLD
      // manifest schema (every live file is promotable-readable under
      // it by invariant; pending deltas in these buckets are overlaid
      // and absorbed by this rewrite), align-cast to the evolved
      // schema; the batch folds over it as every read's deltas do
      val rewritten = overlay(
        align(mergedView(snap, oldAffected), newSchema),
        normalized, newSchema, snap.keyCols)
      val newFiles = writeFiles(snap, rewritten,
        snap.numBuckets, newSchema, snap.keyCols.map(col))
      publish(snap.version, "merge", snap.copy(
        schemaJson = newSchema.json,
        files = untouched ++ newFiles,
        committed = committed))
    } finally counted.unpersist()
  }

  /** Rewrite the table under a new bucket count (the growth path:
    * a table created at 16 buckets that reaches terabytes moves to
    * 4096 so merges keep touching a sliver). One full rewrite — like
    * Iceberg's rewrite with a new partition spec — committed as a
    * normal snapshot, so readers never see a half-rebucketed table
    * and time travel still works across the boundary.
    */
  def rebucket(newNumBuckets: Int): Unit = synchronized {
    require(newNumBuckets > 0, "bucket count must be positive")
    val snap = snapshotOrFail
    if (snap.numBuckets == newNumBuckets) return
    publish(snap.version, "rewrite", snap.copy(numBuckets = newNumBuckets,
      files = writeFiles(snap, readSnapshot(snap), newNumBuckets, snap.schema,
        snap.keyCols.map(col))))
  }

  /** LAZY bucket-spec evolution — the Iceberg partition-spec-evolution
    * analog, and the 100 TB growth path where [[rebucket]]'s one-shot
    * full rewrite is not an option: a METADATA-ONLY commit flips the
    * table to `newNumBuckets` and pins every existing file's bucket id
    * to the spec it was written under ([[FileEntry.spec]]). From then
    * on merge touch sets, point-lookup pruning and compaction grouping
    * resolve bucket ids PER FILE SPEC; data migrates to the new spec
    * incrementally — every merge rewrites its touched old-spec files
    * under the new layout, and [[compact]] folds whole old-spec groups
    * over. Read correctness never depended on the layout (the merged
    * view is key-global), so readers and time travel are undisturbed;
    * the transient cost is one extra bounded touch-set probe per
    * rewriting merge and point lookups opening one bucket per live spec.
    */
  def rebucketLazy(newNumBuckets: Int): Unit = synchronized {
    require(newNumBuckets > 0, "bucket count must be positive")
    val snap = snapshotOrFail
    if (snap.numBuckets == newNumBuckets) return
    publish(snap.version, "respec", snap.copy(numBuckets = newNumBuckets,
      files = snap.files.map(f => f.copy(spec = f.specUnder(snap.numBuckets)))))
  }

  /** Maintenance rewrite of every data file under the current manifest
    * schema and bucket count: completes deferred widening (files whose
    * physical types are narrower than the manifest, served by
    * cast-on-read until now) and compacts accumulated small files.
    * A normal snapshot commit — concurrent readers and time travel are
    * never disturbed.
    */
  def rewriteData(): Unit = synchronized {
    val snap = snapshotOrFail
    publish(snap.version, "rewrite", snap.copy(files = writeFiles(snap,
      readSnapshot(snap), snap.numBuckets, snap.schema, snap.keyCols.map(col))))
  }

  /** Targeted compaction: collapse ONLY the buckets holding more than
    * `maxFilesPerBucket` files back into a single tombstone-free base
    * file each, leaving every other bucket's manifest entries
    * untouched. Returns the number of buckets compacted.
    *
    * This is the pay-down half of merge-on-read: each delta commit
    * (reference cadence: one per 10 s checkpoint,
    * flink_json_to_iceberg.py:89) adds a file per touched bucket, so
    * read overlays deepen until maintenance folds base ∪ deltas into
    * base — Iceberg's binpack rewrite with a file-count filter, or
    * Paimon's full-compaction trigger. The default threshold 1 means
    * "restore every bucket to scan-optimal"; a steady-state pipeline
    * passes e.g. 4 to amortize. Cost is proportional to the
    * over-threshold buckets only — never a 100 TB table rewrite.
    * Committed as a normal snapshot: concurrent readers keep their
    * pinned file lists and prior versions stay time-travelable.
    */
  def compact(maxFilesPerBucket: Int = 1): Int = synchronized {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val snap = snapshotOrFail
    // group by (spec, bucket): after a lazy respec the same bucket id
    // under different specs names different key sets
    def grp(f: FileEntry): (Int, Int) = (f.specUnder(snap.numBuckets), f.bucket)
    val mixed = snap.files.exists(f => f.specUnder(snap.numBuckets) != snap.numBuckets)
    val byGrp = snap.files.groupBy(grp)
    // over-threshold = too many files in a group, PLUS (mixed state) any
    // delta group with no base beside it: its overlay depth spans specs
    // (the base rows live in old-spec groups), so the per-group file
    // count under-reports the read amplification the threshold bounds
    // NOTE: iterator first — collecting (spec, bucket) TUPLES straight
    // off the Map would rebuild a Map keyed by spec and silently merge
    // every spec's groups down to one
    val over = byGrp.iterator.collect {
      case (g, fs) if fs.size > maxFilesPerBucket => g
      case (g, fs) if mixed && fs.forall(FileEntry.isDelta) => g
    }.toSet
    if (over.isEmpty) return 0
    var toRewrite = snap.files.filter(f => over(grp(f)))
    // mixed-spec closure: a CURRENT-spec delta's keys may have their
    // base rows in old-spec files OUTSIDE the selected groups (a
    // delta-merge after the respec never touches bases). Compacting
    // such a delta alone would drop its tombstones and resurrect the
    // old-spec base rows — so the selection closes over every
    // old-spec file. Old-spec delta groups are safe alone: their keys'
    // bases share the same (spec, bucket) group by construction, and
    // any later merge that moved those keys would have absorbed the
    // delta. This is the migration pay-down of [[rebucketLazy]] — the
    // whole old layout folds into the current spec in one compaction.
    if (mixed && toRewrite.exists(f =>
        FileEntry.isDelta(f) && f.specUnder(snap.numBuckets) == snap.numBuckets)) {
      val sel = toRewrite.toSet
      toRewrite = toRewrite ++ snap.files.filter(f =>
        f.specUnder(snap.numBuckets) != snap.numBuckets && !sel(f))
    }
    val untouched = snap.files.filterNot(toRewrite.toSet)
    // current-state view of just those groups (delta overlay applied,
    // tombstones dropped), written back bucket-partitioned under the
    // CURRENT spec — old-spec survivors migrate here
    val written = writeFiles(snap, mergedView(snap, toRewrite),
      snap.numBuckets, snap.schema, snap.keyCols.map(col))
    publish(snap.version, "compact", snap.copy(files = untouched ++ written))
    over.size
  }

  /** Z-order clustering rewrite: re-lay every bucket's data along the
    * Morton curve of `zCols` and split it into ≤ `maxRowsPerFile`-row
    * files, so each file covers a narrow range of EVERY clustered
    * column and [[FileStats]] skipping prunes scans by predicates on
    * any of them — the layout-optimization maintenance pass next to
    * [[compact]] (Delta OPTIMIZE ZORDER / Iceberg sort-order rewrite).
    *
    * Key-bucket partitioning is preserved (point lookups and the merge
    * path are untouched); only the order WITHIN buckets and the file
    * split change. Committed as a normal snapshot — readers and time
    * travel undisturbed. The min/max stats pass collects 2·|zCols|
    * scalars on the driver (bounded, like the affected-bucket set).
    */
  def cluster(zCols: Seq[String], maxRowsPerFile: Long = 1L << 20): Unit =
    synchronized {
      require(zCols.nonEmpty, "cluster needs at least one column")
      require(maxRowsPerFile > 0, "maxRowsPerFile must be positive")
      val snap = snapshotOrFail
      val sch = snap.schema
      zCols.foreach(c => require(sch.fieldNames.contains(c),
        s"no such column to cluster by: $c"))
      val df = readSnapshot(snap)
      val statAggs = zCols.flatMap(c => Seq(
        min(col(c).cast("double")).as(s"__mn_$c"),
        max(col(c).cast("double")).as(s"__mx_$c")))
      val statsRow = df.agg(statAggs.head, statAggs.tail: _*).head()
      def d(i: Int): Double =
        if (statsRow.isNullAt(i)) 0d else statsRow.getDouble(i)
      val mins = zCols.indices.map(i => d(2 * i))
      val maxs = zCols.indices.map(i => d(2 * i + 1))
      val z = ZOrder.zValue(zCols.map(col), mins, maxs)
      publish(snap.version, "cluster", snap.copy(files = writeFiles(snap, df,
        snap.numBuckets, sch, Seq(z), maxRecordsPerFile = Some(maxRowsPerFile))))
    }

  /** The one writer of store data files, for every commit kind: routes
    * `rows` to their key bucket under `numBuckets` (the current count,
    * or [[rebucket]]'s target), sorts each bucket by `order` (the keys;
    * [[cluster]]'s z-value) and writes it into the next version's
    * attempt directory. It returns the new files' manifest entries as
    * the write tasks report them ([[FileEntryTracker]]): each file's
    * bucket, footer bounds and lookup blooms, ordered by (bucket, path).
    *
    * Sizing, the same for every commit: min(numBuckets, cores) tasks,
    * hash-routed on `__bucket`. A bucket lands in exactly one task and
    * each task writes one file per bucket it holds (split only by
    * `maxRecordsPerFile`), so the layout is one file per written bucket
    * at any core count — a 16-bucket commit on 4 cores runs 4 write
    * tasks, not 16, and no touched-bucket count is needed to size it.
    * `__bucket` leads the sort, so the writer's partition ordering is
    * satisfied and it never inserts its own (unstable) re-sort that
    * would lose `order`; key order gives key-clustered row groups, so
    * parquet min/max stats prune key-range scans inside a bucket too.
    * The attempt directory is unique: a racing or crashed writer can
    * never clobber files another attempt already committed (the
    * manifest references only its own attempt's paths; losers leave
    * orphans that never become visible). The write runs as its own SQL
    * execution, as `DataFrameWriter`'s does; a failed write aborts its
    * job, which removes what its tasks wrote.
    */
  private def writeFiles(snap: Snapshot, rows: DataFrame, numBuckets: Int,
      schema: StructType, order: Seq[Column],
      maxRecordsPerFile: Option[Long] = None): Seq[FileEntry] = {
    val dir = s"data/v${snap.version + 1}-$attemptId"
    val tasks = math.max(1,
      math.min(numBuckets, spark.sparkContext.defaultParallelism))
    val qe = rows.withColumn("__bucket", bucketExpr(snap.keyCols, numBuckets))
      .repartition(tasks, col("__bucket"))
      .sortWithinPartitions(col("__bucket") +: order: _*)
      .queryExecution
    val plan = qe.executedPlan
    val (bucket, data) = plan.output.partition(_.name == "__bucket")
    val lookups = effectiveLookupCols(schema, snap.lookupCols).map { c =>
      val i = data.indexWhere(_.name == c)
      (c, i, data(i).dataType)
    }
    val conf = spark.sessionState.newHadoopConf()
    val serConf = new SerializableConfiguration(conf)
    val tracker = new FileEntryTracker(dir, schema, lookups, serConf)
    // Spark's own tracker sets the tasks' output metrics (rows and
    // bytes written), which listeners read, as DataFrameWriter's does
    val basic = new BasicWriteJobStatsTracker(serConf, BasicWriteJobStatsTracker.metrics)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, s"$location/$dir")
    SQLExecution.withNewExecutionId(qe, Some("write")) {
      FileFormatWriter.write(qe.sparkSession, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(s"$location/$dir", Map.empty, plan.output),
        conf, bucket, None, Seq(basic, tracker),
        maxRecordsPerFile.map("maxRecordsPerFile" -> _.toString).toMap)
    }
    tracker.entries
  }

  /** DDL-driven schema evolution (`ALTER TABLE … ADD COLUMN` / type
    * widening, reference connect-iceberg-sink.json:14 evolve mode as
    * SQL): commits a MANIFEST-ONLY snapshot under the evolved schema —
    * no data rewrite — whenever the parquet reader can serve existing
    * files by cast-on-read (added columns → null; int→long,
    * int→double, float→double promotions). Only a read-unservable
    * widening (long→double) rewrites the data in the same commit, so
    * the manifest schema always stays readable over every live file.
    */
  def evolveSchema(incoming: StructType): Unit = synchronized {
    val snap = snapshotOrFail
    val old = snap.schema
    val (newSchema, _) = evolve(old, incoming)
    if (newSchema == old) return
    val files =
      if (!unservableWidening(old, newSchema)) snap.files
      else writeFiles(snap, align(readSnapshot(snap), newSchema),
        snap.numBuckets, newSchema, snap.keyCols.map(col))
    publish(snap.version, "evolve",
      snap.copy(schemaJson = newSchema.json, files = files))
  }

  /** Align a frame's columns to `schema` types: missing columns become
    * typed nulls, differing (wider) types are cast. Extra columns
    * (merge meta like op/order) are preserved. Struct columns align
    * recursively — Spark's `cast` refuses struct→struct with
    * different field counts, so a batch missing an evolved-in nested
    * field is rebuilt field-by-field with typed nulls instead.
    */
  private def alignTypes(df: DataFrame, schema: StructType): DataFrame =
    schema.fields.foldLeft(df) { (d, f) =>
      if (!d.columns.contains(f.name)) d.withColumn(f.name, lit(null).cast(f.dataType))
      else if (d.schema(f.name).dataType != f.dataType)
        d.withColumn(f.name,
          alignExpr(col(f.name), d.schema(f.name).dataType, f.dataType))
      else d
    }

  /** Recursive alignment of one column to a (wider) target type. */
  private def alignExpr(cur: Column, from: DataType, to: DataType): Column =
    (from, to) match {
      case (f, t) if f == t => cur
      case (fs: StructType, ts: StructType) =>
        val rebuilt = struct(ts.fields.toSeq.map { tf =>
          fs.fields.find(_.name == tf.name) match {
            case Some(ff) =>
              alignExpr(cur.getField(tf.name), ff.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }: _*)
        // struct() of a null parent would yield a struct of nulls —
        // preserve the parent's own nullness
        when(cur.isNull, lit(null).cast(to)).otherwise(rebuilt)
      case (ArrayType(fe, _), ArrayType(te, _)) =>
        transform(cur, x => alignExpr(x, fe, te))
      case (_, t) => cur.cast(t)
    }

  /** [[alignTypes]] plus projection to exactly `schema`'s columns. */
  private def align(df: DataFrame, schema: StructType): DataFrame =
    alignTypes(df, schema).select(schema.fieldNames.map(col).toSeq: _*)

  /** Truncate-commit (SQL `INSERT OVERWRITE`): the new snapshot
    * references only the inserted rows' files, so the table becomes
    * exactly `batch` while every prior snapshot stays time-travelable
    * until expiry. Duplicate keys in the batch are rejected — an
    * overwrite carries no arrival order to break ties with.
    */
  def overwrite(batch: DataFrame): Unit = synchronized {
    val snap = snapshotOrFail
    val oldSchema = snap.schema
    val (newSchema, _) = evolve(oldSchema, batch.schema)
    val aligned = align(batch, newSchema)
    val dups = aligned.groupBy(snap.keyCols.map(col): _*)
      .count().where(col("count") > 1).limit(1).count()
    require(dups == 0L,
      s"INSERT OVERWRITE batch has duplicate keys for $location")
    publish(snap.version, "overwrite", snap.copy(schemaJson = newSchema.json,
      files = writeFiles(snap, aligned, snap.numBuckets, newSchema,
        snap.keyCols.map(col))))
  }

  /** Roll the table back to an earlier version — as a NEW commit whose
    * file list is the target snapshot's (Iceberg's
    * `rollback_to_snapshot` procedure, the recovery move after a
    * bad-data incident). History is preserved: the bad versions stay
    * time-travelable until expiry, and the rollback itself is one more
    * manifest entry — no data files move. The current `committed`
    * (streamId → batchId) replay guards are carried FORWARD, not rolled
    * back: a restarted streaming writer must still no-op batches it
    * already applied, or exactly-once breaks the moment someone rolls
    * back under a live stream.
    */
  def rollback(toVersion: Long): Unit = synchronized {
    val cur = snapshotOrFail
    require(toVersion < cur.version,
      s"rollback target v$toVersion is not before current v${cur.version}")
    require(SnapshotLog.exists(location, toVersion),
      s"rollback target v$toVersion does not exist (expired?) for $location")
    val target = SnapshotLog.read(location, toVersion)
    val missing = target.files.filterNot(f => Files.exists(root.resolve(f.path)))
    require(missing.isEmpty,
      s"cannot roll back to v$toVersion: ${missing.size} data file(s) " +
        s"already expired, e.g. ${missing.headOption.map(_.path).getOrElse("")}")
    publish(cur.version, "rollback", target.copy(committed = cur.committed))
  }

  /** Orphan-file GC (the `remove_orphan_files` half of warehouse
    * maintenance, next to [[expireSnapshots]]): delete data files on
    * disk that NO snapshot in the log references — the leftovers of
    * commit attempts that lost the atomic-exclusive publish race,
    * crashed before publishing or were killed mid-write (leaving a
    * `_temporary/` tree). Only files older than `olderThanMs` are
    * touched: an in-flight attempt's freshly written files must
    * survive until its publish or loss is decided, so the retention
    * has to exceed the LONGEST plausible commit write. The default is
    * 3 days — Iceberg's `remove_orphan_files` default, chosen for
    * exactly this hazard — and retentions under 24 h are refused
    * unless `allowShortRetention = true` is passed explicitly (at
    * 100 TB a multi-hour data write is routine; GC'ing its files
    * mid-commit corrupts the snapshot it is about to publish). A
    * `.crc` sidecar goes with its file, an attempt's `_SUCCESS` marker
    * with its last referenced file, and empty directories are pruned.
    * Returns the deleted manifest-relative `.parquet` paths.
    */
  def removeOrphanFiles(olderThanMs: Long = OrphanGcDefaultMs,
      allowShortRetention: Boolean = false): Seq[String] =
    synchronized {
      require(olderThanMs >= OrphanGcMinMs || allowShortRetention,
        s"orphan GC retention ${olderThanMs}ms is under 24h — an " +
          "in-flight commit's files could be deleted before its " +
          "manifest publishes; pass allowShortRetention = true to " +
          "override (tests/teardown only)")
      val live: Set[String] = SnapshotLog.listVersions(location)
        .flatMap(v => SnapshotLog.read(location, v).files.map(_.path)).toSet
      val cutoff = System.currentTimeMillis() - olderThanMs
      def rel(f: Path): String = root.relativize(f).toString
      def old(f: Path): Boolean = Files.getLastModifiedTime(f).toMillis < cutoff
      graft.Fs.children(root.resolve("data")).flatMap { attempt =>
        val files = graft.Fs.files(attempt)
        val holdsLive = files.exists(f => live(rel(f)))
        val kept = files.filter(f => live(rel(f)) || !old(f) ||
          (holdsLive && f.getFileName.toString == "_SUCCESS")).toSet
        val gone = files.filterNot { f =>
          val n = f.getFileName.toString
          kept(f) || (n.startsWith(".") && n.endsWith(".crc") &&
            kept(f.resolveSibling(n.drop(1).dropRight(4))))
        }
        gone.foreach(Files.deleteIfExists)
        graft.Fs.pruneEmptyDirs(attempt)
        gone.map(rel).filter(_.endsWith(".parquet"))
      }.sorted
    }

  // ---- Named refs: Iceberg-style tags + the WAP publish branch ----

  /** Immutable named pin of a committed version (Iceberg tag). Fails
    * if the name exists — tags never move; [[dropRef]] removes them.
    */
  def createTag(name: String, version: Option[Long] = None): Unit =
    synchronized { writeRef(name, "tag", version, mustBeNew = true) }

  /** Fast-forwardable named pointer (Iceberg branch). The WAP shape:
    * writers advance the table HEAD commit by commit; readers consume
    * a branch ref (e.g. "main") that [[fastForward]] advances only
    * after the audit passes — unpublished commits stay visible to the
    * auditor on the head, invisible through the ref, and nothing is
    * ever rolled back (q348 shows the rollback WAP style; this is the
    * branch style). O(1) metadata either way.
    */
  def createBranch(name: String, version: Option[Long] = None): Unit =
    synchronized { writeRef(name, "branch", version, mustBeNew = true) }

  private def writeRef(name: String, kind: String, version: Option[Long],
      mustBeNew: Boolean): Unit = {
    require(!mustBeNew || RefLog.read(location, name).isEmpty,
      s"ref '$name' already exists for $location")
    val v = version.getOrElse(snapshotOrFail.version)
    require(SnapshotLog.exists(location, v),
      s"ref '$name' target v$v does not exist for $location")
    RefLog.write(location, TableRef(name, kind, v))
  }

  /** All named refs, sorted by name. */
  def refs(): Seq[TableRef] = RefLog.list(location)

  /** Time-travel read through a named ref. */
  def readRef(name: String): DataFrame =
    readVersion(refOrFail(name).version)

  /** Version a ref currently pins. */
  def refVersion(name: String): Long = refOrFail(name).version

  private def refOrFail(name: String): TableRef =
    RefLog.read(location, name).getOrElse(
      throw new IllegalStateException(s"no ref '$name' for $location"))

  /** Advance a BRANCH ref to a later committed version (default: the
    * current head) — the WAP publish step. Tags refuse; moving
    * backward refuses (that is what [[rollback]] + a fresh ref are
    * for, keeping publish history monotonic).
    */
  def fastForward(name: String, toVersion: Option[Long] = None): Unit =
    synchronized {
      val ref = refOrFail(name)
      require(ref.kind == "branch",
        s"ref '$name' is a ${ref.kind} — tags are immutable")
      val to = toVersion.getOrElse(snapshotOrFail.version)
      require(to >= ref.version,
        s"fast-forward of '$name' to v$to would move backward " +
          s"from v${ref.version}")
      require(SnapshotLog.exists(location, to),
        s"fast-forward target v$to does not exist for $location")
      RefLog.write(location, ref.copy(version = to))
    }

  /** Remove a ref (tag or branch); its pinned version becomes
    * expirable again. Returns whether it existed.
    */
  def dropRef(name: String): Boolean =
    synchronized { RefLog.delete(location, name) }

  /** Snapshot expiry (C6; reference snapshot_mgmt.py:17-18
    * `expire_snapshots(retention_threshold => '6h')`): drop manifests
    * older than the retention (never the current one, never a version
    * pinned by a named ref — the Iceberg rule that makes tags/branches
    * safe against maintenance) and delete data files no remaining
    * manifest references.
    */
  def expireSnapshots(retentionMs: Long): Unit = synchronized {
    val versions = SnapshotLog.listVersions(location)
    if (versions.size <= 1) return
    val cutoff = System.currentTimeMillis() - retentionMs
    val pinned = RefLog.list(location).map(_.version).toSet
    val (expired, kept) = versions.init.map(SnapshotLog.read(location, _))
      .partition(s => !pinned(s.version) && s.timestampMs < cutoff)
    if (expired.isEmpty) return
    val liveFiles = (kept :+ SnapshotLog.read(location, versions.last))
      .flatMap(_.files.map(_.path)).toSet
    expired.foreach { s =>
      s.files.filterNot(f => liveFiles(f.path))
        .foreach(f => Files.deleteIfExists(root.resolve(f.path)))
      SnapshotLog.delete(location, s.version)
    }
  }

  private def confLookupCols: Seq[String] = spark.conf.getOption(LookupBloomsConf)
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Commit `next` as the version after `prev`, stamped with the commit
    * time and `operation` — the one place a commit's version is set. */
  private def publish(prev: Long, operation: String, next: Snapshot): Snapshot = {
    val s = next.copy(version = prev + 1,
      timestampMs = System.currentTimeMillis(), operation = operation)
    SnapshotLog.commit(location, s)
    s
  }

  private def attemptId: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Declared lookup columns present in `schema` at a bloomable type:
    * the manifest's persisted declaration plus any session-conf
    * additions (so an existing table can start collecting without a
    * schema change).
    */
  private def effectiveLookupCols(schema: StructType,
      declared: Seq[String]): Seq[String] = {
    (declared ++ confLookupCols).distinct.filter(c => schema.fields.exists(f =>
      f.name == c && (f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == StringType)))
  }
}

object UpsertTable {
  /** Session conf key overriding the default bucket count for newly
    * created tables (the manifest records it per table thereafter).
    */
  val BucketsConf = "graft.store.numBuckets"

  /** Session conf declaring secondary-lookup columns (comma-separated)
    * for newly created tables: every commit then records a per-file
    * Bloom filter on each, so reverse lookups (`read().where(c IN …)`)
    * prune files at planning time ([[StoreFileIndex]]). The declaration persists in the
    * manifest ([[Snapshot.lookupCols]]).
    */
  val LookupBloomsConf = "graft.store.lookupBloomCols"

  /** False-positive rate for per-file lookup blooms: at 0.01 a
    * reverse lookup over F files admits the ~true files + 0.01·F noise
    * — each bloom is ~1.2 KiB per 1000 rows in the manifest.
    */
  val LookupBloomFpp = 0.01

  /** Default orphan-GC retention: 3 days, matching Iceberg's
    * `remove_orphan_files` default — long enough that any plausible
    * in-flight commit write finishes (publish or loss) first.
    */
  val OrphanGcDefaultMs: Long = 3L * 24 * 3600 * 1000

  /** Shortest orphan-GC retention accepted without the explicit
    * `allowShortRetention` override (Iceberg refuses < 24 h the same
    * way).
    */
  val OrphanGcMinMs: Long = 24L * 3600 * 1000

  /** Changelog-op column stored in delta files (`u` upsert / `d`
    * tombstone) — also the in-flight op column name inside [[merge]].
    */
  val OpCol = "__op"

  /** Commit-sequence column stored in delta files; base rows rank 0. */
  val SeqCol = "__seq"

  /** Default key-space partitioning. Local tests stay small; a 100 TB
    * deployment sets [[BucketsConf]] to 4096+ or passes numBuckets
    * explicitly so each merge touches only a sliver of the table.
    */
  val DefaultBuckets = 16

  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** `rows` whose key is in `changed` (`how` = `left_semi`) or is not
    * (`left_anti`), compared null-safely as `groupBy` groups: the
    * overlay's comparison, shared by every semi- and anti-join on a
    * store's primary key. */
  private[graft] def keyJoin(rows: DataFrame, changed: DataFrame,
      keys: Seq[String], how: String): DataFrame =
    rows.join(changed.select(keys.map(k => col(k).as(s"__changed_$k")): _*),
      keys.map(k => col(k) <=> col(s"__changed_$k")).reduce(_ && _), how)

  /** Per-row 60-bit content hash over the given columns in NAME order
    * (sorted, so projection order can't change the fingerprint) —
    * the row term of [[UpsertTable.bucketFingerprints]]'s commutative
    * set hash. md5 (not xxhash) so audits are reproducible across
    * engines and releases.
    */
  def rowFingerprint(columns: Seq[String]): Column = expr(
    s"cast(conv(substring(md5(to_json(struct(${
      columns.sorted.mkString(", ")}))), 1, 15), 16, 10) as bigint)")

  /** Widenings the parquet reader serves by CAST-ON-READ over files
    * written at the narrower type (probed against Spark 4.1's
    * vectorized reader): int32→int64, int32→double, float→double.
    * int64→double is NOT servable — that evolution must physically
    * rewrite the files in the same commit.
    */
  def promotableOnRead(from: DataType, to: DataType): Boolean =
    (from == to) || ((from, to) match {
      case (IntegerType, LongType) => true
      case (IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      // a struct evolution is read-servable when every stored subfield
      // is itself servable under its evolved type; subfields ADDED by
      // the evolution are absent from old files and null-fill (the
      // parquet reader clips nested schemas)
      case (fs: StructType, ts: StructType) =>
        fs.fields.forall(f =>
          ts.fields.find(_.name == f.name)
            .exists(nf => promotableOnRead(f.dataType, nf.dataType)))
      case (ArrayType(ea, _), ArrayType(eb, _)) => promotableOnRead(ea, eb)
      case _ => false
    })

  /** Whether evolving `old` to `evolved` widens a column the parquet
    * reader cannot serve by cast-on-read: that commit must rewrite
    * every live file, so the manifest schema stays readable over all.
    */
  private def unservableWidening(old: StructType, evolved: StructType): Boolean =
    old.fields.exists { f =>
      evolved.fields.find(_.name == f.name).exists(nf =>
        nf.dataType != f.dataType && !promotableOnRead(f.dataType, nf.dataType))
    }

  /** Stored columns are always nullable (additive evolution fills nulls). */
  def allNullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** Schema evolution à la the Iceberg sink's evolve mode
    * (connect-iceberg-sink.json:14): additive columns plus int→long /
    * float→double widening; everything else incompatible is rejected.
    * Returns the evolved schema and whether an existing column widened
    * — widened files stay on disk at the narrow type and are served by
    * cast-on-read until [[UpsertTable.rewriteData]] maintenance.
    */
  def evolve(old: StructType, incoming: StructType): (StructType, Boolean) = {
    var widened = false
    val existing = old.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case Some(in) if in.dataType == f.dataType => f
        case Some(in) =>
          val t = widerOf(f.dataType, in.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"incompatible evolution of ${f.name}: ${f.dataType} vs ${in.dataType}"))
          if (t != f.dataType) widened = true
          f.copy(dataType = t)
        case None => f
      }
    }
    val added = incoming.fields.filterNot(f => old.fieldNames.contains(f.name))
    (allNullable(StructType(existing ++ added)), widened)
  }

  private def widerOf(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    // integral -> double: the canonical CDC drift (a JSON-inferred
    // long column starts carrying decimals). Precision caveat above
    // 2^53 accepted — the alternative is nulling or wedging the stream.
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => Some(DoubleType)
    case (LongType, DoubleType) | (DoubleType, LongType) => Some(DoubleType)
    // nested structs evolve recursively: additive subfields + leaf
    // widening, same rules as the top level (a new field inside a CDC
    // payload's source/after struct must not wedge — or silently
    // drop — the stream)
    case (sa: StructType, sb: StructType) =>
      val merged = sa.fields.map { f =>
        sb.fields.find(_.name == f.name) match {
          case Some(in) =>
            widerOf(f.dataType, in.dataType).map(t =>
              f.copy(dataType = t, nullable = true))
          case None => Some(f.copy(nullable = true))
        }
      }
      if (merged.exists(_.isEmpty)) None
      else Some(StructType(merged.map(_.get) ++
        sb.fields.filterNot(x => sa.fieldNames.contains(x.name))
          .map(_.copy(nullable = true))))
    case (ArrayType(ea, _), ArrayType(eb, _)) =>
      widerOf(ea, eb).map(ArrayType(_, containsNull = true))
    case _ => None
  }

  def apply(spark: SparkSession, location: String): UpsertTable =
    new UpsertTable(spark, location)
}
