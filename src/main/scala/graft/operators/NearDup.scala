package graft.operators

import graft.core.withPersisted
import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document near-duplicate detection: exact n-gram Jaccard via an inverted
  * shingle index, MinHash+LSH banding, and SimHash Hamming banding.
  *
  * Scale design (100 TB): no cross join anywhere. Candidate generation always
  * shuffles once on a bounded key — `shingle` for the inverted index,
  * `(band, bucket)` for LSH/SimHash — and only candidate pairs (a vanishing
  * fraction of the N² pair space) ever materialize. Signatures are computed by
  * the single-pass native kernels in [[graft.functions]] (one array traversal
  * per document for all 64 permutations).
  */
object NearDup {

  /** Distinct word 3-gram shingles of the lowercased ASCII tokens.
    * Out-of-range positions contribute empty strings (mirrors the DuckDB
    * oracle's `coalesce(w[i],'')`), so one-token docs still shingle.
    * Backed by the single-pass [[graft.functions.WordShingles]] kernel.
    */
  def wordShingles3(text: Column): Column = word_shingles(text, 3)

  /** `(doc_id, shingles)` prep used by all the near-dup paths. The corpus is
    * spread first (r17, [[graft.core.spread]]): a single-row-group corpus
    * file otherwise runs the whole shingle kernel on one task — at scale the
    * scan is already parallel and the spread is a no-op. */
  def shingled(docs: DataFrame): DataFrame =
    graft.core.spread(docs, col("doc_id"))
      .select(col("doc_id"), wordShingles3(col("text")).as("shingles"))

  private def jaccardOfCandidates(cand: DataFrame, sets: DataFrame, minJaccard: Double): DataFrame = {
    val a = sets.select(col("doc_id").as("id_a"), col("shingles").as("sa"))
    val b = sets.select(col("doc_id").as("id_b"), col("shingles").as("sb"))
    cand
      .join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_common"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("n_ab"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_ab") - col("n_common")).as("n_union"))
      .withColumn("jaccard", col("n_common").cast("double") / col("n_union"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("id_a", "id_b")
  }

  /** Exact all-pairs n-gram Jaccard ≥ τ via a prefix-filtered inverted index
    * (the All-Pairs / PPJoin scheme):
    *
    *  1. order shingles globally by ascending document frequency (rare first);
    *  2. each doc indexes only its prefix — the first |S| − ⌈τ·|S|⌉ + 1
    *     shingles in that order. Any pair with J ≥ τ has overlap
    *     o ≥ ⌈τ·max(|A|,|B|)⌉, and by the prefix lemma its prefixes must
    *     intersect, so recall stays exact;
    *  3. a length filter drops candidates whose set sizes alone cap Jaccard
    *     below τ (|A| ≥ τ·|B| is necessary);
    *  4. surviving candidate pairs are verified with the true Jaccard.
    *
    * Because prefixes hold the *rare* shingles, hot shingles (the Σ df²
    * blowup of a naive inverted-index join) never generate candidates: at
    * sf0.1 this cuts pre-agg pair rows from 1.27 M to ~310 k (the synthetic
    * corpus's 60-word vocabulary keeps even rare shingles common — a worst
    * case; real corpora have power-law vocabularies and far sparser
    * prefixes). One shuffle by
    * shingle for candidates, one by doc for the prefix ranks.
    */
  def exactJaccardPairs(docs: DataFrame, minJaccard: Double): DataFrame =
    // `sets` feeds the inverted index AND both sides of the verify join;
    // `prefix` feeds both sides of the candidate self-join
    withPersisted(shingled(docs)) { sets =>
      val inv = sets.select(col("doc_id"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("shingle"))
      val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("df", "shingle")
      // No broadcast hint on dfreq: it has one row per DISTINCT shingle —
      // O(corpus vocabulary), billions of rows at 100 TB — so forcing a
      // broadcast OOMs the driver at scale. Both sides of this join are
      // already hash-partitioned by `shingle` (dfreq by its groupBy, inv by
      // the join), so the unhinted plan is a single co-partitioned shuffle
      // join; AQE still auto-broadcasts when the measured size is under
      // spark.sql.autoBroadcastJoinThreshold, which is the size guard.
      val prefix = inv.join(dfreq, "shingle")
        .withColumn("rk", row_number().over(wDoc))
        .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * minJaccard) + 1)
        .select(col("doc_id"), col("n_sh"), col("shingle"), col("rk"))
      withPersisted(prefix) { prefix =>
        // Position filter (PPJoin): J ≥ τ needs overlap o ≥ ⌈τ/(1+τ)·(na+nb)⌉.
        // The df-order is one global total order, so the *minimal* common shingle
        // e* of a qualifying pair sits in both prefixes (prefix lemma) and every
        // other common shingle ranks after e* in BOTH docs. Hence, with
        // (pa, pb) = min match ranks over the prefix join,
        //   overlap ≤ 1 + min(na − pa, nb − pb),
        // and pairs whose bound can't reach o are pruned (310 k grouped pairs →
        // 125 k candidates at sf0.1; only those 125 k reach the array-intersect
        // verify, vs 12.5 M all-pairs).
        val tauOverlap = minJaccard / (1 + minJaccard)
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.shingle") === col("b.shingle")
              && col("a.doc_id") < col("b.doc_id")
              && col("b.n_sh") * minJaccard <= col("a.n_sh")
              && col("a.n_sh") * minJaccard <= col("b.n_sh"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(min(col("a.rk")).as("pa"), min(col("b.rk")).as("pb"),
            first(col("a.n_sh")).as("na"), first(col("b.n_sh")).as("nb"))
          .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb"))
            >= ceil((col("na") + col("nb")) * tauOverlap))
          .select(col("id_a"), col("id_b"))
        jaccardOfCandidates(cand, sets, minJaccard).localCheckpoint()
      }
    }

  /** Exact ordered-pair shingle CONTAINMENT join: every (A, B), A ≠ B, with
    * c(A→B) = |S(A) ∩ S(B)| / |S(A)| ≥ τ — the asymmetric cousin of
    * [[exactJaccardPairs]] that catches supersets (B extends A) which
    * symmetric Jaccard misses, the contamination/quotation shape.
    *
    * Same prefix-filter discipline, adapted to the asymmetric predicate:
    * c(A→B) ≥ τ forces overlap o ≥ ⌈τ·|A|⌉, so by the prefix lemma A's
    * prefix — its |A| − ⌈τ·|A|⌉ + 1 globally-rarest shingles — must hit
    * S(B). Candidates are therefore A-prefix rows joined against the FULL
    * inverted index on the B side; the prefix side holds rare shingles
    * almost exclusively, so the Σ df_prefix(s)·df(s) pair count stays far
    * from the Σ df(s)² hot-shingle blowup. A length filter (|B| ≥ ⌈τ·|A|⌉,
    * since o ≤ |B|) prunes the rest before the array-intersect verify.
    * One shuffle by shingle for candidates, one by doc for prefix ranks —
    * no cross join, recall exact (the filters are lossless).
    *
    * The final predicate is the all-integer `n_common·10⁶ ÷ |A| ≥ τ_e6`
    * (floor division), identical on both engines — no double compare.
    */
  def containmentPairs(docs: DataFrame, contE6: Long): DataFrame = {
    val sets = shingled(docs)
    val inv = sets.select(col("doc_id"), size(col("shingles")).as("n_sh"),
      explode(col("shingles")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("df", "shingle")
    // o_min(A) = ceil(τ·|A|) in pure integer arithmetic: (n·τe6 + 1e6 − 1) DIV 1e6.
    val oMin = graft.core.idiv(col("n_sh") * contE6 + lit(999999L), lit(1000000L))
    // dfreq join deliberately unhinted — O(vocabulary) rows; see
    // exactJaccardPairs for the broadcast-OOM rationale (AQE is the guard).
    val ranked = inv.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(wDoc))
    val prefix = ranked
      .filter(col("rk") <= col("n_sh") - oMin + 1)
      .select(col("doc_id"), col("n_sh"), col("shingle"))
    val full = ranked.select(col("doc_id"), col("n_sh"), col("shingle"))
    val cand = prefix.as("a").join(full.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") =!= col("b.doc_id")
          && col("b.n_sh") * lit(1000000L) >= col("a.n_sh") * contE6)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val a = sets.select(col("doc_id").as("id_a"), col("shingles").as("sa"))
    val b = sets.select(col("doc_id").as("id_b"), col("shingles").as("sb"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("n_common"),
        size(col("sa")).cast("long").as("n_a"))
      .withColumn("cont_e6", graft.core.idiv(col("n_common") * 1000000L, col("n_a")))
      .filter(col("cont_e6") >= contE6)
      .orderBy("id_a", "id_b")
  }

  /** MinHash(64) + LSH(16 bands × 4 rows) near-dup pairs with exact-Jaccard
    * verification of candidates. For J ≥ 0.9 pairs the per-pair miss
    * probability is (1−0.9⁴)¹⁶ ≈ 4e-8; candidates are then verified with the
    * true Jaccard, so the output equals the exact pair set with overwhelming
    * probability while only bucket-colliding pairs are ever scored.
    */
  def minhashLshPairs(docs: DataFrame, minJaccard: Double,
      numPerms: Int = 64, bands: Int = 16): DataFrame =
    // sets feeds the band table AND both verify sides; banded feeds both
    // sides of the bucket self-join
    withPersisted(shingled(docs)) { sets =>
      withPersisted(bandTable(sets, numPerms, bands)) { banded =>
        val cand = banded.as("a").join(banded.as("b"), Seq("band", "bucket"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        jaccardOfCandidates(cand, sets, minJaccard).localCheckpoint()
      }
    }

  /** Incremental dedup: drop NEW batch docs that near-duplicate the EXISTING
    * corpus. Candidates come from joining the batch's MinHash band table
    * against the corpus's — the join the daily-ingest path runs against a
    * PERSISTED band index, so the corpus is never re-paired with itself
    * (batch×corpus collisions only, one shuffle by (band, bucket)); survivors
    * of the banding are verified with the exact Jaccard. Returns the batch
    * rows with no qualifying corpus match.
    */
  def dedupAgainstCorpus(existing: DataFrame, batch: DataFrame, minJaccard: Double,
      numPerms: Int = 64, bands: Int = 16): DataFrame = {
    val eSets = shingled(existing)
    dedupAgainstSets(eSets, bandTable(eSets, numPerms, bands), batch,
      minJaccard, numPerms, bands)
  }

  /** `(doc_id, band, bucket)` LSH band rows of a shingled corpus. */
  private def bandTable(sets: DataFrame, numPerms: Int, bands: Int): DataFrame =
    sets.select(col("doc_id"),
        posexplode(minhash_bands(col("shingles"), numPerms, bands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))

  private def dedupAgainstSets(eSets: DataFrame, eBands: DataFrame, batch: DataFrame,
      minJaccard: Double, numPerms: Int, bands: Int): DataFrame = {
    val bSets = shingled(batch)
    val cand = bandTable(bSets, numPerms, bands).as("n").join(eBands.as("e"), Seq("band", "bucket"))
      .select(col("n.doc_id").as("id_new"), col("e.doc_id").as("id_old"))
      .distinct()
    val dup = cand
      .join(bSets.select(col("doc_id").as("id_new"), col("shingles").as("sa")), "id_new")
      .join(eSets.select(col("doc_id").as("id_old"), col("shingles").as("sb")), "id_old")
      .select(col("id_new"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("c"),
        (size(col("sa")) + size(col("sb"))).cast("long").as("t"))
      .filter(col("c").cast("double") / (col("t") - col("c")) >= minJaccard)
      .select("id_new").distinct()
    batch.join(dup, batch("doc_id") === dup("id_new"), "left_anti")
  }

  // ---- persisted MinHash band index ---------------------------------------
  // The production daily-ingest shape: the corpus's shingle sets and LSH band
  // rows are computed ONCE (at corpus-build time) and persisted as two
  // VersionedTables under `indexPath` — `bands` (doc_id, band, bucket), the
  // candidate-generation side, and `sets` (doc_id, shingles), the
  // exact-verify side. Ingest-time dedup then SCANS the index parquet: no
  // shingle or minhash recompute of the corpus, ever, and each ingested
  // batch appends its own rows so the index stays current incrementally
  // (append-only commits ride the same manifest/time-travel machinery as any
  // other versioned table).
  //
  // (numPerms, bands) are INDEX properties, not query arguments: band rows
  // minhashed with one parameterization never collide correctly with rows
  // minhashed under another, so a build/query mismatch would silently lose
  // recall (the exact-Jaccard verify only removes false positives — it can
  // never surface the missed candidates). buildBandIndex therefore records
  // them in `indexPath/_index_meta.json`, and append/dedup READ them from
  // there rather than trusting a caller-supplied value.

  /** LSH parameterization a persisted index was built with. */
  final case class BandIndexMeta(numPerms: Int, bands: Int)

  /** Build (overwrite) the persisted band index of `docs` at `indexPath`,
    * recording `(numPerms, bands)` in the index metadata. */
  def buildBandIndex(docs: DataFrame, indexPath: String,
      numPerms: Int = 64, bands: Int = 16): Unit = {
    val sets = shingled(docs)
    writeIndexMeta(docs.sparkSession, indexPath, BandIndexMeta(numPerms, bands))
    graft.sinks.VersionedTable.overwrite(sets, s"$indexPath/sets")
    graft.sinks.VersionedTable.overwrite(bandTable(sets, numPerms, bands), s"$indexPath/bands")
    ()
  }

  /** Append an accepted batch's shingles + band rows to the index — the
    * incremental corpus-growth step after [[dedupAgainstIndex]] admits it.
    * The batch is banded with the index's OWN persisted parameterization.
    */
  def appendToBandIndex(batch: DataFrame, indexPath: String): Unit = {
    val meta = indexMeta(batch.sparkSession, indexPath)
    val sets = shingled(batch)
    graft.sinks.VersionedTable.append(sets, s"$indexPath/sets")
    graft.sinks.VersionedTable.append(bandTable(sets, meta.numPerms, meta.bands), s"$indexPath/bands")
    ()
  }

  /** [[dedupAgainstCorpus]] against the PERSISTED index: batch×corpus band
    * collisions only, with the corpus side read straight from the index
    * parquet (one scan of `bands` for candidates, one id-joined scan of
    * `sets` for the exact-Jaccard verify — no corpus-side recompute). The
    * batch is banded with the index's persisted parameterization, so the
    * collision space is the one the index was built for.
    */
  def dedupAgainstIndex(batch: DataFrame, indexPath: String, minJaccard: Double): DataFrame = {
    val spark = batch.sparkSession
    val meta = indexMeta(spark, indexPath)
    dedupAgainstSets(
      graft.sinks.VersionedTable.read(spark, s"$indexPath/sets"),
      graft.sinks.VersionedTable.read(spark, s"$indexPath/bands"),
      batch, minJaccard, meta.numPerms, meta.bands)
  }

  /** Read the persisted parameterization; fails loudly when `indexPath` holds
    * no built index (an un-parameterized probe would silently lose recall). */
  def indexMeta(spark: org.apache.spark.sql.SparkSession, indexPath: String): BandIndexMeta = {
    val p = new org.apache.hadoop.fs.Path(indexPath, "_index_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"no band index at $indexPath: build one with buildBandIndex first")
    val in = fs.open(p)
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def field(k: String): Int = s""""$k":(\\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt)
      .getOrElse(throw new java.io.IOException(s"bad index meta at $p: $s"))
    BandIndexMeta(field("numPerms"), field("bands"))
  }

  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, meta: BandIndexMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath, "_index_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"numPerms":${meta.numPerms},"bands":${meta.bands}}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Connected components of a near-dup pair graph → dedup groups: every doc
    * that appears in a pair is labeled with the smallest doc id reachable
    * from it, so each near-dup cluster collapses onto one canonical id.
    *
    * Classic distributed min-label propagation: each iteration joins labels
    * across edges and takes the per-node min, converging in O(diameter)
    * rounds (near-dup clusters are tiny, so 2–3 in practice). The first hop
    * is folded into the init: one `groupBy(src)` labels each node with
    * `least(src, min(dst))`, the same single shuffle a `distinct` of the ids
    * would cost, so the loop starts one round in. Each round is then one
    * shuffle-join plus one min-aggregate that also carries the node's
    * previous label (`own`), so the convergence test reads the
    * just-materialized iterate with no shuffle. No driver-side graph; a
    * [[Checkpointer]] truncates the growing lineage between rounds
    * (reliable when `checkpointDir` is set — the executor-loss-safe mode for
    * cluster runs).
    */
  def connectedComponents(pairs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = new Checkpointer(checkpointDir)
    val edges = ckpt(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = ckpt(edges.groupBy("src")
      .agg(least(col("src"), min("dst")).as("label")).withColumnRenamed("src", "id"))
    // neighbor rows carry no previous label; the placeholder takes the id type
    val noOwn = lit(null).cast(labels.schema("label").dataType).as("own")
    var changed = true
    while (changed) {
      val viaNeighbor = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"), noOwn)
      val next = ckpt(labels.select(col("id"), col("label"), col("label").as("own"))
        .unionByName(viaNeighbor)
        .groupBy("id").agg(min("label").as("label"), max("own").as("own")))
      changed = !next.filter(col("label") < col("own")).isEmpty
      ckpt.retire(labels) // last consumer (this round's join) is done
      labels = next
    }
    labels.select(col("id").as("doc_id"), col("label").as("component_id"))
      .orderBy("doc_id")
  }

  /** SimHash(64-bit) pairs within Hamming distance k, found exactly via
    * pigeonhole banding: split the 64 bits into k+1 chunks — k flipped bits
    * cannot touch all k+1 chunks, so every qualifying pair collides on at
    * least one exact-match chunk. Output is exact (collisions are re-checked
    * with `bit_count(a^b)`), yet only chunk-colliding pairs are compared.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    val withChunks = docs.select(col("doc_id"),
      simhash_chunks(ascii_tokens(col("text")), chunks).as("cs"))
    val banded = withChunks.select(col("doc_id"), col("cs"),
        posexplode(col("cs")))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "chunk"))
    withPersisted(banded) { banded =>
      banded.as("a").join(banded.as("b"), Seq("band", "chunk"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          aggregate(zip_with(col("a.cs"), col("b.cs"),
              (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
            lit(0L), (acc, v) => acc + v).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming)
        .orderBy("id_a", "id_b")
        .localCheckpoint()
    }
  }
}
