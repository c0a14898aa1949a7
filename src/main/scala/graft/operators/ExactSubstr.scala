package graft.operators

import graft.core.withPersisted
import graft.functions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level EXACT-SUBSTRING deduplication (the "ExactSubstr" family of
  * Lee et al., "Deduplicating Training Data Makes Language Models Better"):
  * find every maximal token span that occurs more than once ANYWHERE in the
  * corpus — across documents or repeated within one — so a pipeline can
  * scrub the duplicated spans instead of dropping whole near-dup documents.
  *
  * The published implementation builds a monolithic suffix array, which is
  * a single-machine design. The distributed re-expression used here is the
  * positional n-gram formulation: a span is duplicated iff every length-`n`
  * window inside it is duplicated, so
  *
  *   1. explode each doc into (position, n-gram) rows — O(total tokens),
  *   2. count each distinct gram corpus-wide (ONE shuffle keyed by gram,
  *      partial-aggregated map-side, so a hot gram — "the end of the day" —
  *      arrives at the reducer as per-mapper partial counts, never as a
  *      single giant group),
  *   3. join positions back to the grams seen more than once (AQE handles
  *      a skewed gram key by splitting it; the dup-gram set is the small
  *      side but is NOT forced broadcast — it is O(duplicated vocabulary),
  *      which at 100 TB does not fit an executor),
  *   4. merge overlapping/adjacent hits per doc into maximal spans with a
  *      gaps-and-islands pass — windowed per doc_id, so the window state is
  *      bounded by a single document's length, never by the corpus.
  *
  * The approximation vs a true suffix array: duplicated runs SHORTER than
  * `n` tokens are not found (by construction — the published ExactSubstr
  * uses a 50-token floor for the same reason: tiny shared spans are noise,
  * not plagiarism). Everything ≥ n is found exactly, with exact boundaries.
  *
  * Scale: no all-pairs term anywhere; the big intermediate is the gram
  * table at O(total tokens) rows. Each gram is keyed by its 128-bit hash —
  * two independent xxhash64 runs over the token-array window — so the one
  * big shuffle moves 16-byte keys instead of n-token strings (collision
  * odds ~2^-64 corpus-wide). ExactSubstrSpec checks the spans against a
  * sequential string-gram reference on a real corpus.
  */
object ExactSubstr {

  /** Second-hash seed: an arbitrary odd 64-bit constant prepended as a
    * literal column so `xxhash64(seed, gram)` is independent of
    * `xxhash64(gram)`. (xxhash64 folds children left-to-right, so a
    * different leading literal re-keys the whole chain.)
    */
  private val Seed2 = -7046029254386353131L

  /** Maximal duplicated token spans, one row per (doc, span): `doc_id`,
    * 1-based inclusive `span_start`/`span_end` token offsets, and
    * `n_dup_grams`, the count of duplicated n-gram windows merged into the
    * span. Deterministic: positions are unique within a doc.
    */
  def duplicateSpans(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"span gram length must be >= 2, got $n")
    // spread before the tokenize → window-explode → hash kernel (r17,
    // [[graft.core.spread]]): a single-row-group corpus otherwise runs the
    // whole gram pipeline on one task; no-op on an already-parallel scan
    val windows = graft.core.spread(docs, col("doc_id"))
      .select(col("doc_id"), ascii_tokens(col("text")).as("w"))
      .filter(size(col("w")) >= n) // sequence(1, <1) is invalid; short docs have no n-window
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => struct(i.as("p"), slice(col("w"), i, lit(n)).as("garr")))).as("pg"))

    // corpus-wide gram multiplicity; > 1 means the window text exists twice
    // somewhere (another doc OR another offset of the same doc).
    // The gram table feeds BOTH the multiplicity aggregate and the
    // position-join probe side; the narrow (doc_id, p, h1, h2) projection is
    // a fraction of the input bytes.
    val grams = windows.select(col("doc_id"), col("pg.p").as("p"),
        xxhash64(col("pg.garr")).as("h1"),
        xxhash64(lit(Seed2), col("pg.garr")).as("h2"))
    withPersisted(grams) { grams =>
      val dup = grams.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select("h1", "h2")
      val hits = grams.join(dup, Seq("h1", "h2"))
        .select(col("doc_id"), col("p"), (col("p") + (n - 1)).as("e"))

      // gaps-and-islands span merge: a hit starting at or before the running
      // max end + 1 extends the current span (overlap OR adjacency); the
      // running max — not lag(e) — is what makes a long span swallow short
      // hits nested inside it
      val byDoc = Window.partitionBy("doc_id").orderBy("p")
      val prevMax = max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
      hits
        .withColumn("brk", when(col("p") <= prevMax + 1, 0).otherwise(1)) // null prevMax -> 1
        .withColumn("island", sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("p")).cast("long").as("span_start"),
          max(col("e")).cast("long").as("span_end"),
          count(lit(1)).as("n_dup_grams"))
        .select("doc_id", "span_start", "span_end", "n_dup_grams")
        .localCheckpoint()
    }
  }

  /** Per-document scrub accounting over the WHOLE corpus (every doc gets a
    * row): total tokens, tokens inside duplicated spans, and the keep ratio
    * a scrubbing pass would retain. The spans aggregate is a left join —
    * clean documents carry dup_tokens = 0, not a dropped row.
    */
  def scrubStats(docs: DataFrame, n: Int): DataFrame = {
    val dupPerDoc = duplicateSpans(docs, n)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    docs
      .select(col("doc_id"), size(ascii_tokens(col("text"))).cast("long").as("n_tokens"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("keep_ratio",
        when(col("n_tokens") === 0, lit(1.0))
          .otherwise((col("n_tokens") - col("dup_tokens")).cast("double") / col("n_tokens")))
      .select("doc_id", "n_tokens", "dup_tokens", "keep_ratio")
  }
}
