package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{IngestJob, JsonField, Topic}

/** Measured scale curves for the pairing operators (MinHash/LSH
  * near-dup, connected-components clustering, hyperplane-LSH ANN,
  * corpus pruning): the subquadratic claims (banded buckets, Σbucket²
  * ≈ N√N, CC rounds = diameter) are design arguments — this main
  * turns them into NUMBERS by timing each operator at three corpus
  * sizes (sf0.01, sf0.1, and a synthetic 4× sf0.1) and fitting the
  * scaling exponent α in t ∝ n^α. An all-pairs operator would show
  * α → 2 between the two largest points; every operator here must
  * stay well under that.
  *
  * The ×4 corpus preserves the duplicate STRUCTURE of the original
  * instead of fabricating new collisions: each replica applies a
  * bijective per-replica character rotation to text (shingle
  * relations inside a replica are exactly the original corpus's;
  * replicas are mutually dissimilar) and a per-replica sign-flip
  * pattern to embeddings (an isometry — within-replica cosine
  * geometry unchanged; replica directions decorrelated). Output size
  * therefore grows 4×, not 16×, and runtime growth measures the
  * OPERATOR, not an artifact of planted cross-replica duplicates.
  *
  * Prints one JSON line and writes SCALE_CURVE.md.
  */
object ScaleCurve {

  private def rot(n: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    a.drop(n) + a.take(n)
  }

  /** Per-replica letter permutation. Pure rotations have PERIOD 26:
    * at reps > 26, rot(7·r % 26) repeats and replicas r and r−26
    * become VERBATIM copies — planting exact cross-replica twins that
    * blow the pairing operators' candidate mass superlinearly (the
    * round-10 ×32 "drift" was exactly this corpus artifact: measured
    * candidate rows grew 2.75× for 2× docs, and true pairs 3.4×, at
    * the colliding ×32 point). For r ≥ 26 the rotation composes with
    * a transposition of the target alphabet's first two characters —
    * a swapped rotation is order-breaking at one position, so it
    * differs from every pure rotation and from every other swapped
    * one: injective through 52 replicas, still bijective per replica
    * (within-replica shingle relations exactly preserved).
    */
  private def perm(r: Int): String = {
    val base = rot(7 * r % 26)
    if (r < 26) base
    else "" + base(1) + base(0) + base.substring(2)
  }

  /** ×n documents replica (the confirmation-decade corpora): same
    * bijective per-replica permutation contract as [[buildX4]],
    * documents only — the confirmed operators are all
    * document-paired. Verified corpus property: the distinct-3-shingle
    * df² mass grows EXACTLY linearly in the replica count
    * (vocabularies stay disjoint, max df constant — measured ratio
    * 4.0 between ×4 and ×16, and the [[perm]] swap keeps that holding
    * past 26 replicas), so any superlinear time step is a runtime
    * transition, not candidate growth.
    */
  private def buildXnDocs(spark: SparkSession, srcDir: String,
      outDir: String, reps: Int): Unit = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val docsXn = (0 until reps).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + r * 10000000L).as("doc_id"),
        translate(col("text"),
          "abcdefghijklmnopqrstuvwxyz", perm(r)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    docsXn.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** ×n PART replica (the attribute-blocked confirmation corpus):
    * brand/size/type VERBATIM (fixed-cardinality blocking domain —
    * replication grows the blocks, exactly what a bigger catalog does
    * to attribute blocking), names rotated bijectively per replica
    * (within-replica JW/edit structure preserved, cross-replica names
    * decorrelated). Replica id stride is 10⁸, NOT the documents' 10⁷:
    * q261 derives planted twins at id + 10⁷, so a 10⁷ replica stride
    * would collide twin ids with replica 1's id range and pollute the
    * linkage truth join (a corpus artifact of the same class as the
    * round-10 rotation-period bug — caught and fixed round 11; every
    * earlier attribute-family ×4 number measured the colliding
    * corpus).
    */
  private def buildXnPart(spark: SparkSession, srcDir: String,
      outDir: String, reps: Int): Unit = {
    val part = spark.read.parquet(s"$srcDir/part.parquet")
    val partXn = (0 until reps).map { r =>
      if (r == 0) part
      else part.select(
        (col("p_partkey") + r * 100000000L).as("p_partkey"),
        translate(col("p_name"),
          "abcdefghijklmnopqrstuvwxyz", perm(r)).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }.reduce(_ unionByName _)
    partXn.write.mode("overwrite").parquet(s"$outDir/part.parquet")
  }

  /** ×n EVENTS replica (the ingest-decade corpus): user_id shifted
    * (n× the keys the keyed merge must track), event_id shifted
    * (uniqueness), times verbatim (a denser stream, the per-commit
    * worst case).
    */
  private def buildXnEvents(spark: SparkSession, srcDir: String,
      outDir: String, reps: Int): Unit = {
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val evXn = (0 until reps).map { r =>
      if (r == 0) ev
      else ev
        .withColumn("user_id", col("user_id") + r * 10000000L)
        .withColumn("event_id", col("event_id") + r * 1000000000L)
    }.reduce(_ unionByName _)
    evXn.write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Replica-salted 4× corpus dirs (documents + embeddings parquet). */
  private def buildX4(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val docsX4 = (0 until 4).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + r * 10000000L).as("doc_id"),
        translate(col("text"),
          "abcdefghijklmnopqrstuvwxyz", perm(r)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    docsX4.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val embs = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val embsX4 = (0 until 4).map { r =>
      if (r == 0) embs
      else embs.select(
        (col("vec_id") + r * 10000000L).as("vec_id"),
        expr(("cast(transform(embedding, (x, i) -> x * (CASE WHEN " +
          s"pmod(i * 2654435761 + $r * (i + 3), 4) < 2 " +
          "THEN 1.0D ELSE -1.0D END)) AS array<float>)")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    embsX4.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    buildXnPart(spark, srcDir, outDir, 4)

    // lineitem replicas shift ONLY the order key: same catalog, 4× the
    // baskets — exactly what a growing order book does to basket
    // pairing (per-order pair gen stays linear; the co-occurrence
    // graph on the FIXED catalog gets denser, the documented price of
    // fixed-cardinality co-occurrence at constant catalog size)
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val liX4 = (0 until 4).map { r =>
      if (r == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + r * 1000000000L)
    }.reduce(_ unionByName _)
    liX4.write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // events replicas shift user_id (4× the KEYS — what stateful
    // streaming state must track) and event_id (uniqueness); times are
    // kept verbatim so the watermark/window span is unchanged and the
    // stream gets DENSER, the stateful worst case
    buildXnEvents(spark, srcDir, outDir, 4)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val sfSmall = "/root/testdata/sf0.01"
    val sfBig = "/root/testdata/sf0.1"
    val x4 = sys.props("java.io.tmpdir") +
      s"/graft-scale-x4-${ProcessHandle.current().pid()}"
    Fs.deleteRecursively(java.nio.file.Paths.get(x4))
    buildX4(spark, sfBig, x4)

    val ops = Seq( // (name, size-carrying table)
      "q17_minhash_neardup" -> "documents",
      "q38_neardup_clusters" -> "documents",
      "q88_neardup_prune" -> "documents",
      "q63_ann_lsh" -> "embeddings",
      "q96_semantic_dedup" -> "embeddings",
      // bloom probe: filter size fixed by the eval side, corpus side a
      // pure scan — the exponent must track the scan, not the sketch
      "q104_bloom_decontaminate" -> "documents",
      // Pass-Join: constant keys per string; candidates must stay
      // near-linear for the pigeonhole blocking claim to hold
      "q108_passjoin_editdist" -> "documents",
      // PPJoin: candidate cost is Σ prefix-shingle df² — the prefix
      // filter must keep the exact join off the all-pairs curve
      "q117_ppjoin_jaccard" -> "documents",
      // incremental dedup: probe cost is Σ per-bucket |index|·|batch|
      // — must track the batch+index scan, never index² re-pairing
      "q143_incr_neardup" -> "documents",
      // kNN graph: query set == corpus, so Σ bucket² is the whole
      // cost — the in-bucket pairing must stay off the n² curve and
      // the top_k truncation must keep the exchange at 3 pairs/node
      "q176_knn_graph" -> "embeddings",
      // containment PPJoin: probe-prefix × full-index candidates —
      // same Σ df² shape as q117 with the one-sided filter
      "q121_containment_join" -> "documents",
      // attribute-blocked pair families: q106/q151/q261 conjoin the
      // Snm sorted-neighborhood band inside the fixed-cardinality
      // (brand[, type|size]) blocks (round-12), so candidates are
      // ≤ (w−1)·N and the tail must track rows — the old Σ block²
      // quadratic mass applies only to q170, kept on the raw blocking
      // as the documented stress case
      "q106_editdist_pairs" -> "part",
      "q151_jw_entity_match" -> "part",
      "q170_golden_record" -> "part",
      // suffix-array dedup: log L rounds of rank sorts — must track
      // n log n, never the pairing curve
      "q199_suffix_dup_spans" -> "documents",
      // dedup APPLICATION adds the keeper groupBy + per-doc rebuild
      // to the q199 rank cost — one extra corpus shuffle, same curve
      "q203_suffix_dedup_apply" -> "documents",
      // DSIR: two scan passes + a buckets-bounded aggregate — must
      // track the scan (α ≈ the q104 probe), nothing pairing-shaped
      "q204_dsir_select" -> "documents",
      // cross-corpus decontamination: rank rounds + an eval-rank
      // semi-join — the train side must never re-pair
      "q205_suffix_decontaminate" -> "documents",
      // round-8 third-part additions: one more attribute-blocked
      // pairing op (q261) and the AUDIT family, whose truth legs are
      // deliberately quadratic on their samples (see caveat below)
      "q261_fellegi_sunter" -> "part",
      "q234_lsh_recall" -> "documents",
      "q246_blocking_audit" -> "part",
      "q239_bitext_mining" -> "embeddings",
      // ANN-tier bitext mining: candidate lists from √N-bucket IVF +
      // a FIXED 128-query exact audit — must shed q239's quadratic
      // tail (the whole point of the production tier)
      "q300_bitext_ann" -> "embeddings",
      // basket-pairing family: within-order pair gen is Σ C(basket,2)
      // — must track orders (α ≈ 1), never |parts|²; the graph ops on
      // the w≥2 co-occurrence graph densify with orders at FIXED
      // catalog size (see caveat below)
      "q270_assoc_rules" -> "lineitem",
      "q273_kcore" -> "lineitem",
      "q274_adamic_adar" -> "lineitem",
      "q275_clustering_coeff" -> "lineitem",
      // capped 2-hop reach: same deg ≤ 64 center cut as q274, so the
      // hop enumeration is bounded at 64·|E| on the densifying graph
      "q355_reach_2hop" -> "lineitem",
      // round-11 additions — sorted-neighborhood blocking: candidates
      // are w·N by construction (the band join hands each record
      // exactly w−1 partners), so the measured tail must track the
      // sort/position cost, never a pairing curve
      "q367_sorted_neighborhood" -> "part",
      // degree assortativity: two node-keyed joins + one scalar fold
      // on the densifying co-purchase graph — must track |E|
      "q361_degree_assortativity" -> "lineitem",
      // bipartite double cover: ONE diameter-bounded CC fixpoint on
      // the 2·|V| cover (base labels projected out of it, r12 §19);
      // the cover doubles nodes, not density — must track the CC cost
      "q376_bipartite_check" -> "lineitem",
      // PCA power iteration: dim²-bounded scatter accumulation + 8
      // rounds on a 64-row vector — must track the single scan
      "q374_pca_power" -> "embeddings",
      // MMD shift: one posexplode scan into 64 groups — the α ≈ scan
      // baseline the pairing families are judged against
      "q362_mmd_shift" -> "embeddings",
      // round-12 additions — positional phrase search: two (doc,
      // pos±k) offset equi-joins on the most-frequent-trigram
      // postings — must track the postings scan, never a per-doc
      // pairing curve
      "q396_phrase_search" -> "documents",
      // RAKE: per-doc run windows + a bounded-vocab word-stat shuffle
      // + a 15-row TakeOrdered — must track the token scan
      "q394_rake_keywords" -> "documents")
      // dev tooling: SPARK_GRAFT_SCALE_ONLY=qX,qY measures a subset
      // and SKIPS the SCALE_CURVE.md rewrite (the tracked record is
      // always a full run)
      .filter { case (n, _) =>
        sys.env.get("SPARK_GRAFT_SCALE_ONLY")
          .forall(_.split(",").map(_.trim).toSet.contains(n))
      }
    val points = Seq("sf0.01" -> sfSmall, "sf0.1" -> sfBig, "sf0.1x4" -> x4)
    val sizes: Map[String, Map[String, Long]] = points.map { case (label, dir) =>
      label -> Map(
        "documents" -> spark.read.parquet(s"$dir/documents.parquet").count(),
        "embeddings" -> spark.read.parquet(s"$dir/embeddings.parquet").count(),
        "part" -> spark.read.parquet(s"$dir/part.parquet").count(),
        "lineitem" -> spark.read.parquet(s"$dir/lineitem.parquet").count(),
        "events" -> spark.read.parquet(s"$dir/events.parquet").count())
    }.toMap
    val eventKeys: Map[String, Long] = points.map { case (label, dir) =>
      label -> spark.read.parquet(s"$dir/events.parquet")
        .select("user_id").distinct().count()
    }.toMap

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup: JIT + codegen at the smallest SF, untimed
    ops.foreach { case (name, _) => time(name, "/root/testdata/sf0.001") }

    val results = ops.map { case (name, table) =>
      val ts = points.map { case (label, dir) =>
        label -> (1 to reps).map(_ => time(name, dir)).min
      }
      val ns = points.map { case (label, _) => sizes(label)(table).toDouble }
      val ls = ts.map(_._2)
      // least-squares slope of ln t over ln n (3 points)...
      val (xs, ys) = (ns.map(math.log), ls.map(math.log))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val fit = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      // ...and the large-end pairwise slope (fixed costs amortized —
      // the honest number for "would this survive another 10x")
      val tail = math.log(ls(2) / ls(1)) / math.log(ns(2) / ns(1))
      (name, ts, ns, fit, tail)
    }

    // SPATIAL PAIRING (q343 grid DBSCAN): the shared ×4 embedding
    // replica is a per-dimension SIGN-FLIP — an isometry for the
    // cosine operators, but WRONG for a 2-D spatial one (replica 3's
    // first two dimensions keep their signs, so its projection lands
    // exactly ON the original corpus and local density doubles — a
    // stacking artifact, not scale). The honest spatial isometry is a
    // TRANSLATION: each replica shifts dim-0 by +2.0·r (2000 mills ≫
    // eps = 15), preserving every within-replica distance while
    // keeping replicas mutually inert, so true neighbor mass grows
    // exactly linearly in the replica count and the measured tail is
    // the operator's, not the corpus builder's.
    val runDbscan = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .forall(_.split(",").map(_.trim).toSet.contains("q343_dbscan_grid"))
    val dbscanResults = if (!runDbscan) Seq.empty else {
      val x4s = sys.props("java.io.tmpdir") +
        s"/graft-scale-x4s-${ProcessHandle.current().pid()}"
      Fs.deleteRecursively(java.nio.file.Paths.get(x4s))
      val embsBig = spark.read.parquet(s"$sfBig/embeddings.parquet")
      (0 until 4).map { r =>
        if (r == 0) embsBig
        else embsBig.select((col("vec_id") + r * 10000000L).as("vec_id"),
          expr("cast(transform(embedding, (x, i) -> " +
            s"CASE WHEN i = 0 THEN x + cast(2.0 * $r as float) ELSE x END) " +
            "as array<float>)").as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$x4s/embeddings.parquet")
      val name = "q343_dbscan_grid"
      time(name, "/root/testdata/sf0.001") // warmup
      val pts = Seq("sf0.01" -> sfSmall, "sf0.1" -> sfBig, "sf0.1x4" -> x4s)
      val ts = pts.map { case (label, dir) =>
        label -> (1 to reps).map(_ => time(name, dir)).min
      }
      val ns = Seq(sizes("sf0.01")("embeddings").toDouble,
        sizes("sf0.1")("embeddings").toDouble,
        sizes("sf0.1x4")("embeddings").toDouble)
      val ls = ts.map(_._2)
      val (xs, ys) = (ns.map(math.log), ls.map(math.log))
      val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
      val fit = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        xs.map(x => (x - mx) * (x - mx)).sum
      val tail = math.log(ls(2) / ls(1)) / math.log(ns(2) / ns(1))
      Fs.deleteRecursively(java.nio.file.Paths.get(x4s))
      Seq((name, ts, ns, fit, tail))
    }

    // STREAMING STATE CURVES: the stateful operators' bounded-state
    // claims, measured instead of argued — each op runs its real
    // checkpointed StreamingQuery harness at the three points while a
    // listener records the PEAK state-store rows across micro-batches;
    // the claim under test is state ∝ ACTIVE KEYS (rows/key ~constant
    // as the key space grows 4×), never ∝ input rows. Events replicas
    // shift user_id, so keys AND rows both grow 4× while the time span
    // (and thus the watermark horizon) stays fixed — the dense case.
    val streamingOps = Seq(
      ("q75_stream_sessions", "active sessions per key"),
      ("q150_stream_dedup_ttl", "event ids inside the watermark"),
      ("q167_stream_cep", "open pattern buffers per key"),
      ("q179_stream_over", "one running-agg row per key"))
    val peakState = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
        var cur = peakState.get()
        while (rows > cur && !peakState.compareAndSet(cur, rows))
          cur = peakState.get()
      }
    }
    spark.streams.addListener(listener)
    val streamResults = streamingOps
      .filter { case (n, _) =>
        sys.env.get("SPARK_GRAFT_SCALE_ONLY")
          .forall(_.split(",").map(_.trim).toSet.contains(n))
      }
      .map { case (name, boundNote) =>
      val perPoint = points.map { case (label, dir) =>
        // progress events reach the listener ASYNCHRONOUSLY via the
        // shared listener bus: drain it before the reset (so a prior
        // point's late event can't bleed into this window) and again
        // after awaitTermination (so the final micro-batch's event —
        // often the peak — is counted before the read)
        org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)
        peakState.set(0)
        val t = time(name, dir)
        org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)
        (label, peakState.get(), t)
      }
      (name, boundNote, perPoint)
    }
    spark.streams.removeListener(listener)

    // INGEST THROUGHPUT: the reference's actual operating point — S1
    // topic → JSON parse (P1–P4, P6) → keyed upsert merge (C1/C2) as
    // DELTA commits (the O(batch)-per-trigger 100 TB path) — measured
    // as rows/s at the three event scales. AvailableNow drains the
    // topic through the identical code path a 10 s ProcessingTime
    // trigger commits per micro-batch (IngestJob.start is shared), so
    // the number is the per-commit pipeline cost with trigger idle
    // time factored out. The scale claim under test: rows/s holds
    // ~flat as the stream grows 40× — commit cost is O(batch) + O(log
    // manifest), never O(table).
    val runIngest = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .forall(_.split(",").map(_.trim).toSet.contains("ingest_throughput"))
    def ingestFields = Seq(JsonField("user_id", "BIGINT"),
      JsonField("event_id", "BIGINT"), JsonField("event_type", "STRING"))
    val ingestResults = if (!runIngest) Seq.empty else {
      // ×16 events decade point: one more step past the ×4 corpus
      // (160× sf0.01) — the claim under test is still rows/s holding
      // ~flat, i.e. commit cost O(batch) + O(log manifest)
      val x16e = sys.props("java.io.tmpdir") +
        s"/graft-scale-x16e-${ProcessHandle.current().pid()}"
      Fs.deleteRecursively(java.nio.file.Paths.get(x16e))
      buildXnEvents(spark, sfBig, x16e, 16)
      val ingestPoints = points :+ ("sf0.1x16" -> x16e)
      val perPoint = ingestPoints.map { case (label, dir) =>
        val rows = spark.read.parquet(s"$dir/events.parquet").count()
        val ts = (1 to reps).map { r =>
          val base = sys.props("java.io.tmpdir") +
            s"/graft-scale-ingest-${ProcessHandle.current().pid()}-$label-$r"
          Fs.deleteRecursively(java.nio.file.Paths.get(base))
          val ev = spark.read.parquet(s"$dir/events.parquet")
            .select("event_id", "user_id", "event_type")
          Topic.produce(ev.coalesce(4), s"$base/topic")
          val job = IngestJob(
            topicDir = s"$base/topic",
            tablePath = s"$base/table",
            keyField = "user_id",
            fields = ingestFields,
            checkpointDir = s"$base/cp",
            trigger = Trigger.AvailableNow(),
            deltaMerges = true)
          val t0 = System.nanoTime()
          job.start(spark).awaitTermination()
          val dt = (System.nanoTime() - t0) / 1e9
          Fs.deleteRecursively(java.nio.file.Paths.get(base))
          dt
        }
        (label, rows, ts.min)
      }
      Fs.deleteRecursively(java.nio.file.Paths.get(x16e))
      // TWO CONCURRENT TOPICS → TWO TABLES (the reference's actual
      // dual-pipeline shape — S6 routes account+product streams side
      // by side): both jobs share the local[cpus] session the way two
      // streaming queries share a cluster; the claim is that commit
      // cost stays O(batch) under CONCURRENT tables (no cross-table
      // lock/contention term), i.e. combined rows/s lands near the
      // single-topic rate at the same total volume.
      val twoTopic = {
        val ts = (1 to reps).map { r =>
          val base = sys.props("java.io.tmpdir") +
            s"/graft-scale-ingest2-${ProcessHandle.current().pid()}-$r"
          Fs.deleteRecursively(java.nio.file.Paths.get(base))
          val ev = spark.read.parquet(s"$sfBig/events.parquet")
            .select("event_id", "user_id", "event_type")
          Topic.produce(ev.where(col("event_id") % 2 === 0).coalesce(4),
            s"$base/topicA")
          Topic.produce(ev.where(col("event_id") % 2 === 1).coalesce(4),
            s"$base/topicB")
          def job(tag: String) = IngestJob(
            topicDir = s"$base/topic$tag",
            tablePath = s"$base/table$tag",
            keyField = "user_id",
            fields = ingestFields,
            checkpointDir = s"$base/cp$tag",
            trigger = Trigger.AvailableNow(),
            deltaMerges = true)
          val t0 = System.nanoTime()
          val (qa, qb) = (job("A").start(spark), job("B").start(spark))
          qa.awaitTermination()
          qb.awaitTermination()
          val dt = (System.nanoTime() - t0) / 1e9
          Fs.deleteRecursively(java.nio.file.Paths.get(base))
          dt
        }
        ("sf0.1-2topics", sizes("sf0.1")("events"), ts.min)
      }
      perPoint :+ twoTopic
    }

    // CONFIRMATION DECADES: for the worst measured tails that remain,
    // ×16 and ×32 documents corpora add two more steps past the main
    // table's ×4 point. Two slopes are reported because a single step
    // can land ON a runtime transition — VERIFIED by plan inspection:
    // at ×4 every q117 join is a BroadcastHashJoin (7/7); at ×16 the
    // prefix-candidate self-join on the prefix element flips to a
    // SortMergeJoin (its build side crossed the broadcast threshold —
    // the honest asymptotic plan, since a self-join side cannot
    // broadcast at scale), a one-time constant-factor cliff that reads
    // as a big x4→x16 exponent while the corpus's df² candidate mass
    // is verified EXACTLY linear in replicas (see buildXnDocs). The
    // x16→x32 slope is the post-transition exponent the next 10×
    // follows.
    val confirmOps = Seq("q108_passjoin_editdist", "q117_ppjoin_jaccard",
      "q121_containment_join").filter(n => results.exists(_._1 == n))
    // SUFFIX-FAMILY ×16 CONFIRMATION (round-12): q199's committed
    // α_tail carried a 0.51–0.95 regeneration band from one noisy ×4
    // point — the prefix-doubling slope gets its own decade step so
    // the number is measured through the broadcast→SMJ transition
    // instead of extrapolated. ×16 only: the suffix ranks' log L
    // rounds dominate and the ×4→×16 slope is the claim.
    val suffixOps = Seq("q199_suffix_dup_spans", "q203_suffix_dedup_apply",
      "q205_suffix_decontaminate").filter(n => results.exists(_._1 == n))
    val (confirmResults, suffixConfirmResults) =
      if (confirmOps.isEmpty && suffixOps.isEmpty) (Seq.empty, Seq.empty)
      else {
      def bench(mult: Int, opsToRun: Seq[String]): Map[String, (Long, Double)] = {
        val dir = sys.props("java.io.tmpdir") +
          s"/graft-scale-x$mult-${ProcessHandle.current().pid()}"
        Fs.deleteRecursively(java.nio.file.Paths.get(dir))
        buildXnDocs(spark, sfBig, dir, mult)
        val n = spark.read.parquet(s"$dir/documents.parquet").count()
        // SPILL-AWARE PARTITIONING (the sizing rule the curve exists
        // to validate): the main table's points run at
        // shuffle.partitions = cpus, which at ×16/×32 data puts
        // gigabytes of verify-stage token arrays through single
        // partitions — the measured slope then reads the SPILL
        // boundary of a fixed harness config, not the operator (q121
        // measured 1.3–1.9 with high run-to-run variance at 8
        // partitions). A real deployment scales partition count with
        // data (a 1000-executor cluster runs thousands); the confirm
        // decades do the same: partitions = cpus·mult/4, so per-
        // partition bytes match the ×4 point's.
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
          (cpus.toInt * mult / 4).max(cpus.toInt).toString)
        val m = try {
          opsToRun.map { name =>
            name -> (n, (1 to reps).map(_ => time(name, dir)).min)
          }.toMap
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
        Fs.deleteRecursively(java.nio.file.Paths.get(dir))
        m
      }
      val m16 = bench(16, confirmOps ++ suffixOps)
      val m32 = bench(32, confirmOps)
      (confirmOps.map { name =>
        val t4 = results.find(_._1 == name).get._2(2)._2
        val (n16, t16) = m16(name)
        val (n32, t32) = m32(name)
        (name, n16, t16, math.log(t16 / t4) / math.log(4.0),
          n32, t32, math.log(t32 / t16) / math.log(2.0))
      },
      suffixOps.map { name =>
        val t4 = results.find(_._1 == name).get._2(2)._2
        val (n16, t16) = m16(name)
        (name, n16, t16, math.log(t16 / t4) / math.log(4.0))
      })
    }

    // ATTRIBUTE-BLOCKED ×16 CONFIRMATION: q151/q261 sit AT the α ≈ 1
    // asymptote the attribute-blocking caveat predicts (linear in the
    // quadratically-growing candidate mass of fixed-cardinality
    // blocks). One more decade step checks the slope HOLDS there —
    // the caveat's own claim — instead of drifting past it toward
    // all-pairs. Same spill-aware partition scaling as the documents
    // decades.
    val confirmAttrOps = Seq("q151_jw_entity_match", "q261_fellegi_sunter")
      .filter(n => results.exists(_._1 == n))
    val confirmAttrResults = if (confirmAttrOps.isEmpty) Seq.empty else {
      val dir = sys.props("java.io.tmpdir") +
        s"/graft-scale-p16-${ProcessHandle.current().pid()}"
      Fs.deleteRecursively(java.nio.file.Paths.get(dir))
      buildXnPart(spark, sfBig, dir, 16)
      val n = spark.read.parquet(s"$dir/part.parquet").count()
      // the round-12 Snm band's own arithmetic, measured not argued:
      // with the conjunctive sorted-neighborhood second block (w=16),
      // a block of size c hands the verifier Σ_{gap=1..min(15,c−1)}
      // (c − gap) pairs = g·c − g(g+1)/2 with g = min(15, c−1) —
      // LINEAR in c once c ≫ w, where the raw attribute blocks' Σ
      // C(block, 2) grew quadratically. cand x16/x4 ≈ 4 per 4× rows
      // is the bent curve the round-11 worklist asked for.
      def candMass(d: String): Double =
        spark.read.parquet(s"$d/part.parquet")
          .groupBy("p_brand", "p_size").agg(count(lit(1)).as("c"))
          .agg(sum(expr("case when c <= 1 then 0 else " +
            "least(15, c - 1) * c - " +
            "least(15, c - 1) * (least(15, c - 1) + 1) div 2 end")))
          .head().getLong(0).toDouble
      val (c4, c16) = (candMass(x4), candMass(dir))
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        (cpus.toInt * 4).toString)
      val m = try {
        confirmAttrOps.map { name =>
          name -> (1 to reps).map(_ => time(name, dir)).min
        }.toMap
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      Fs.deleteRecursively(java.nio.file.Paths.get(dir))
      confirmAttrOps.map { name =>
        val t4 = results.find(_._1 == name).get._2(2)._2
        (name, n, m(name), math.log(m(name) / t4) / math.log(4.0),
          math.log(m(name) / t4) / math.log(c16 / c4), c16 / c4)
      }
    }

    val md = new StringBuilder
    md ++= "# SCALE_CURVE — measured scaling of the pairing operators\n\n"
    md ++= "Generated by `graft.ScaleCurve` (min of " + reps + " reps per " +
      "point, local[" + cpus + "]). `alpha_fit` is the least-squares\n" +
      "exponent of t ∝ n^α over all three corpus sizes; `alpha_tail` " +
      "is the\nsf0.1 → sf0.1×4 slope (fixed costs amortized — the " +
      "number that predicts\nthe next 10×). All-pairs behavior would " +
      "be α ≈ 2.\n\n"
    md ++= "Note for the ATTRIBUTE-BLOCKED family (q106/q151/q261 — " +
      "round-12\nchange): their blocking keys are catalog attributes " +
      "with FIXED\ncardinality (brand×size = 1250, brand×type = 3750), " +
      "so replication\nused to grow every block linearly and the " +
      "candidate count\nquadratically (the measured ~16× per 4× rows of " +
      "rounds ≤ 11). The\nmatchers now CONJOIN a sorted-neighborhood " +
      "band (Snm, w = 16, sort\nkey substr(name, 2) — leading-char-" +
      "robust, planted twins stay\nadjacent) inside each block, " +
      "bounding candidates to ≤ (w−1)·N at any\nblock cardinality; at " +
      "sf0.01 the match sets are unchanged (all 400\nplanted q261 " +
      "twins kept). q170 keeps the raw attribute blocking as\nthe " +
      "documented fixed-cardinality stress case; the content-derived\n" +
      "operators (q108 PassJoin, q117/q121 prefix-filter joins) remain " +
      "the\nblocking-free scale path.\n\n"
    md ++= "Caveat for the AUDIT family (q234/q246) and the brute-force\n" +
      "tier (q239): their ground-truth legs are DELIBERATELY\n" +
      "(sub-)quadratic — an exact-recall audit must pay for exact truth.\n" +
      "q234 runs its truth on a fixed-fraction sample; q246 (round-10)\n" +
      "runs PC on a FIXED-SIZE 1024-id md5 sample (constant cost at any\n" +
      "corpus) and computes RR exactly in closed form from block-size\n" +
      "histograms, so its alpha now tracks the linear histogram scan.\n" +
      "q239 is the TRUTH tier by contract; its production form is q300\n" +
      "(margins from IVF candidate lists, measured in the row below it —\n" +
      "the alpha_tail gap between the two IS the point). The audit alphas\n" +
      "measure the truth leg's price, not a plan defect; the operators\n" +
      "they audit (q17/q18, q151, q22/q63, q300) are the scale path.\n\n"
    md ++= "Caveat for the BASKET-PAIRING family (q270/q273/q274/q275):\n" +
      "the ×4 replica multiplies ORDERS at a fixed catalog, so\n" +
      "within-order pair generation must track orders (α ≈ 1) while\n" +
      "the w ≥ 2 co-occurrence graph densifies — more orders over the\n" +
      "same parts means more repeat pairs and higher degrees, so the\n" +
      "graph stages (wedge closure, peeling) are measured against a\n" +
      "DENSIFYING graph, the honest worst case. A real catalog grows\n" +
      "with its order book and keeps the graph sparse; the pair-gen\n" +
      "exponent is the scale claim, the graph-stage exponent the\n" +
      "fixed-catalog stress price.\n\n"
    md ++= "Note for the SPATIAL operator (q343 grid DBSCAN): its ×4\n" +
      "corpus is a TRANSLATED embedding replica (dim-0 shifted +2.0·r —\n" +
      "a distance-preserving isometry that keeps replicas mutually\n" +
      "inert), not the shared sign-flip replica, whose unchanged\n" +
      "first-two-dims replica would stack on the original in 2-D\n" +
      "projection and double local density (a corpus artifact, not\n" +
      "operator scale).\n\n"
    md ++= "| operator | n (rows) | t sf0.01 | t sf0.1 | t sf0.1x4 | alpha_fit | alpha_tail |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    (results ++ dbscanResults).foreach { case (name, ts, ns, fit, tail) =>
      md ++= f"| $name | ${ns.map(_.toLong).mkString(" / ")} " +
        ts.map(t => f"| ${t._2}%.2f s ").mkString +
        f"| $fit%.2f | $tail%.2f |\n"
    }
    md ++= "\n## Streaming state curves\n\n"
    md ++= "Peak state-store rows (sum over the query's stateful " +
      "operators, max\nover micro-batches) while each op's REAL " +
      "checkpointed StreamingQuery\nharness replays the events " +
      "stream, against the ACTIVE-KEY count at\neach point. The " +
      "claim under test is each operator's DOCUMENTED bound:\nfor " +
      "the keyed operators (sessions, CEP buffers, OVER state) " +
      "rows/key\nmust hold ~constant through the ×4 key-space growth; " +
      "the dedup\noperator's bound is ids INSIDE THE WATERMARK " +
      "HORIZON — it tracks the\nevents column by design (eviction " +
      "reclaims it as the watermark\nadvances; q153 pins the drop). " +
      "Event times are kept verbatim in the\nreplicas, so the " +
      "horizon is FIXED while volume and keys grow — the\ndense " +
      "worst case.\n\n"
    md ++= "| operator | state bound | keys sf0.01/sf0.1/x4 | " +
      "events | peak state rows | rows/key | wall (s) |\n" +
      "|---|---|---|---|---|---|---|\n"
    streamResults.foreach { case (name, note, perPoint) =>
      val keys = points.map { case (l, _) => eventKeys(l) }
      val evs = points.map { case (l, _) => sizes(l)("events") }
      val rpk = perPoint.zip(keys).map { case ((_, st, _), k) =>
        f"${st.toDouble / k}%.2f" }
      md ++= f"| $name | $note " +
        s"| ${keys.mkString(" / ")} " +
        s"| ${evs.mkString(" / ")} " +
        s"| ${perPoint.map(_._2).mkString(" / ")} " +
        s"| ${rpk.mkString(" / ")} " +
        f"| ${perPoint.map(p => f"${p._3}%.1f").mkString(" / ")} |\n"
    }
    if (confirmResults.nonEmpty) {
      md ++= "\n## Confirmation decades (sf0.1×16 and ×32, documents)\n\n"
      md ++= "The three worst remaining tails re-measured two more " +
        "steps out (×16,\n×32 documents, same bijective replica " +
        "contract — distinct-shingle df²\nmass verified EXACTLY linear " +
        "in replicas, ratio 4.0 between ×4 and\n×16, max df constant). " +
        "Two slopes because one step can land ON a\nruntime " +
        "transition, and plan inspection confirms x4→x16 does: at ×4\n" +
        "every q117 join is a BroadcastHashJoin (7/7); at ×16 the\n" +
        "prefix-candidate self-join flips to a SortMergeJoin (its " +
        "build side\ncrossed the broadcast threshold — the honest " +
        "asymptotic plan, a\nself-join side cannot broadcast at " +
        "scale). That one-time constant\ncliff reads as a big x4→x16 " +
        "exponent; x16→x32 is the post-transition\nslope the next 10× " +
        "follows — THAT is the scale claim. The reading\nline for it: " +
        "these joins do LINEAR work in the (linear) candidate\nmass, " +
        "so the honest post-transition asymptote is slope ≈ 1 — a\n" +
        "smaller slope means fixed costs still amortizing; the failure " +
        "mode\nthe decade exists to catch is a slope heading past " +
        "~1.3 toward 2.\n\n" +
        "Two round-10 (second-pass) harness adjudications, both baked in here: (1) " +
        "the\n×32 corpus was INVALID before this pass — per-replica " +
        "rotations have\nperiod 26, so replicas 26..31 duplicated " +
        "replicas 0..5 VERBATIM and\nplanted exact cross-replica twins " +
        "(measured: candidate rows ×2.75\nand true pairs ×3.4 at 2× " +
        "docs). The builder now composes a\ntransposition past r = 26 " +
        "(see ScaleCurve.perm), injective through\n52 replicas; every " +
        "×32 number before the fix (including round 10's\nq121 " +
        "pre/post-fix 113.7 s / 58.0 s pair) measured the artifact " +
        "corpus\nand is superseded. (2) The decade points scale " +
        "shuffle.partitions\nwith the corpus (cpus·mult/4 — constant " +
        "per-partition bytes); at the\nmain table's fixed cpus " +
        "partitions the ×32 verify stage crosses the\nspill boundary " +
        "and the measurement turns bimodal (q121 read 1.3–1.9\n" +
        "across runs at 8 partitions, 0.96 stable once partitioned to " +
        "size —\nthe spill-aware sizing rule, validated rather than " +
        "violated by the\nharness).\n\n"
      md ++= "| operator | n x16 | t x16 | alpha x4->x16 | n x32 | " +
        "t x32 | alpha x16->x32 |\n|---|---|---|---|---|---|---|\n"
      confirmResults.foreach { case (name, n16, t16, a16, n32, t32, a32) =>
        md ++= f"| $name | $n16 | $t16%.2f s | $a16%.2f | $n32 " +
          f"| $t32%.2f s | $a32%.2f |\n"
      }
    }
    if (suffixConfirmResults.nonEmpty) {
      md ++= "\n## Suffix-family ×16 confirmation (sf0.1×16 documents)\n\n"
      md ++= "The prefix-doubling family's own decade (round-12): " +
        "q199's committed\ntail carried a 0.51–0.95 regeneration band " +
        "from one noisy ×4 point,\nso the slope is now MEASURED one " +
        "decade further (×4→×16, same\nbijective replica contract, " +
        "same spill-aware partition scaling)\ninstead of extrapolated. " +
        "Reading line: suffix ranking is log L\nrounds of linear " +
        "sorts, so the honest asymptote is slope ≈ 1 with\nfixed " +
        "costs amortizing below it; a slope past ~1.3 would mean the\n" +
        "rank rounds degenerated.\n\n"
      md ++= "| operator | n x16 | t x16 | alpha x4->x16 |\n" +
        "|---|---|---|---|\n"
      suffixConfirmResults.foreach { case (name, n16, t16, a16) =>
        md ++= f"| $name | $n16 | $t16%.2f s | $a16%.2f |\n"
      }
    }
    if (confirmAttrResults.nonEmpty) {
      md ++= "\n## Attribute-blocked ×16 confirmation (sf0.1×16 part)\n\n"
      md ++= "The round-12 bent curve, measured: with the Snm " +
        "conjunctive band\n(w = 16) the per-block candidate mass is " +
        "g·c − g(g+1)/2, g = min(15,\nc−1) — LINEAR in block size " +
        "where the raw attribute blocks grew\nquadratically (rounds " +
        "≤ 11 measured cand ×16.2 and time α ≈ 1.55 vs\nrows here). " +
        "cand x16/x4 below is the measured ×4→×16 candidate\ngrowth " +
        "per 4× rows — the worklist target was ≤ ~6×; alpha_vs_cand\n" +
        "≈ 1 still means flat per-pair work. Corpus note: the part " +
        "replica\nstride is 10⁸ (round-11 fix — a 10⁷ stride collided " +
        "replica-1 ids\nwith q261's planted twins at id+10⁷). Same " +
        "spill-aware partition\nscaling as the documents decades.\n\n"
      md ++= "| operator | n x16 | t x16 | alpha vs rows | " +
        "cand x16/x4 | alpha vs candidates |\n|---|---|---|---|---|---|\n"
      confirmAttrResults.foreach { case (name, n16, t16, a16, ac, cr) =>
        md ++= f"| $name | $n16 | $t16%.2f s | $a16%.2f | $cr%.1f× " +
          f"| $ac%.2f |\n"
      }
    }
    if (ingestResults.nonEmpty) {
      md ++= "\n## Ingest throughput (S1 topic → JSON parse → keyed " +
        "delta merge)\n\n"
      md ++= "The reference's operating point measured end-to-end: " +
        "IngestJob (the\nq37 surface) with deltaMerges — topic files " +
        "→ get_json_object parse +\nconstraints → upsert merge as " +
        "O(batch) delta commits — drained by\nAvailableNow through " +
        "the same per-commit path a 10 s ProcessingTime\ntrigger " +
        "takes (idle time factored out); min of " + reps + " runs, " +
        "each from a\nfresh topic/table/checkpoint. Claim: rows/s " +
        "~flat across 160× growth\n(the ×16 decade point) — commit " +
        "cost is O(batch), never O(table).\nThe 2-topics row is the " +
        "reference's actual dual-pipeline shape (S6\nroutes account + " +
        "product side by side): two concurrent IngestJobs into\ntwo " +
        "tables over the same total volume — combined rows/s near " +
        "the\nsingle-topic rate means no cross-table commit " +
        "contention term.\n\n"
      md ++= "| point | rows | wall (s) | rows/s |\n|---|---|---|---|\n"
      ingestResults.foreach { case (label, rows, t) =>
        md ++= f"| $label | $rows | $t%.1f | ${rows / t}%.0f |\n"
      }
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("SCALE_CURVE.md"),
        md.toString.getBytes("UTF-8"))
    val json = (results ++ dbscanResults).map { case (name, _, _, fit, tail) =>
      f""""$name":{"alpha_fit":$fit%.3f,"alpha_tail":$tail%.3f}"""
    }.mkString("{\"metric\":\"scale_exponents\",", ",",
      streamResults.map { case (name, _, perPoint) =>
        s""""$name":{"peak_state_rows":[${perPoint.map(_._2).mkString(",")}],""" +
          s""""keys":[${points.map(p => eventKeys(p._1)).mkString(",")}]}"""
      }.mkString(",\"streaming_state\":{", ",", "}") +
      confirmResults.map { case (name, _, t16, a16, _, t32, a32) =>
        f""""$name":{"t16":$t16%.2f,"alpha_x4_x16":$a16%.3f,""" +
          f""""t32":$t32%.2f,"alpha_x16_x32":$a32%.3f}"""
      }.mkString(",\"x16_confirm\":{", ",", "}") +
      suffixConfirmResults.map { case (name, _, t16, a16) =>
        f""""$name":{"t16":$t16%.2f,"alpha_x4_x16":$a16%.3f}"""
      }.mkString(",\"suffix_x16_confirm\":{", ",", "}") +
      confirmAttrResults.map { case (name, _, t16, a16, ac, cr) =>
        f""""$name":{"t16":$t16%.2f,"alpha_x4_x16":$a16%.3f,""" +
          f""""cand_ratio":$cr%.2f,"alpha_vs_cand":$ac%.3f}"""
      }.mkString(",\"attr_x16_confirm\":{", ",", "}") +
      ingestResults.map { case (label, rows, t) =>
        f""""$label":${rows / t}%.0f"""
      }.mkString(",\"ingest_rows_per_s\":{", ",", "}}"))
    println(json)
    Fs.deleteRecursively(java.nio.file.Paths.get(x4))
    spark.stop()
  }
}
