package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.NativeText

/** Exact duplicated-substring span detection — the "dedup at the
  * substring level" pass (Lee et al., "Deduplicating Training Data
  * Makes Language Models Better"): find every token n-gram that occurs
  * in two or more documents, then merge the overlapping hits inside
  * each document into maximal duplicated SPANS, yielding per-document
  * duplicated-token coverage. Whole-document dedup misses boilerplate
  * (headers, license blocks, templated paragraphs) pasted into
  * otherwise-unique pages; this measures exactly that.
  *
  * Scale shape: one pass to (doc, pos, gramHash) — the gram is hashed
  * by the native single-pass [[NativeText.shingleHash32]] kernel, so
  * no 8-word strings are ever materialized or shuffled (the string
  * formulation shuffled ~10× the bytes and spent its time in
  * per-gram string building) — one groupBy on the hash to find
  * cross-document repeats (`min(doc) != max(doc)`, constant state —
  * not a count-distinct, which would pay a second exchange on
  * (hash, doc)), one join of positions back to the repeated hashes,
  * and a per-document sorted window whose partition is bounded by
  * document length. Nothing is ever pairwise in documents. A full
  * suffix-array build gets longer matches, but needs a global sort of
  * every suffix; fixed-n grams with span-merging approximate it with
  * one shuffle and recover arbitrarily long duplicated runs as merged
  * spans.
  *
  * Hashing caveat (same contract as `Dedup.ngramJaccard`): a 32-bit
  * collision can mark a gram duplicated spuriously (p ≈ |grams|²/2³³
  * corpus-wide), but the hash is deterministic and engine-portable, so
  * the SQL oracle replays it exactly; [[spansExact]] is the
  * string-comparison truth for cross-checking, and a 100 TB run would
  * widen the kernel to 64-bit before the collision budget matters.
  *
  * Span merge: a gram at 1-based token position p covers tokens
  * [p, p+n); hits are merged while the next start does not exceed the
  * running span end (adjacency merges — contiguous duplicated tokens
  * belong to one span). Implemented as the classic gaps-and-islands
  * running-max window, replayed identically by the SQL oracle.
  */
object SubstringDedup {

  /** Array of (pos, gram) structs for n-grams of the normalized text;
    * empty when the document has fewer than n tokens (guarded — Spark's
    * `sequence(1, k)` with k < 1 would count DOWN, not return empty).
    * The string-truth path; the scale path hashes instead.
    */
  def tokenGrams(textCol: Column, n: Int): Column = {
    val w = split(TextFunctions.normalizeText(textCol), " ")
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)), i =>
        struct(i.as("pos"), concat_ws(" ", slice(w, i, lit(n))).as("gram"))))
      .otherwise(array().cast("array<struct<pos:int,gram:string>>"))
  }

  /** Per-document duplicated-span stats over hashed grams (the scale
    * path). Output: (idCol, n_tokens, dup_grams, n_spans, dup_tokens,
    * dup_coverage). Documents with no cross-document duplicated n-gram
    * are absent (coverage 0).
    */
  def spans(docs: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    NativeText.register(docs.sparkSession)
    val hits = docs
      .select(col(idCol).as("__id"),
        split(TextFunctions.normalizeText(col(textCol)), " ").as("__w"))
      .select(col("__id"), size(col("__w")).cast("long").as("n_tokens"),
        posexplode(NativeText.shingleHash32(col("__w"), n)))
      .select(col("__id"), col("n_tokens"),
        (col("pos") + 1).as("__pos"), col("col").as("__gram"))
    spanStats(hits, idCol, n)
  }

  /** The string-comparison truth: identical semantics to [[spans]]
    * minus the hash (no collision budget), at materialized-gram cost.
    */
  def spansExact(docs: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val hits = docs
      .select(col(idCol).as("__id"),
        size(split(TextFunctions.normalizeText(col(textCol)), " "))
          .cast("long").as("n_tokens"),
        explode(tokenGrams(col(textCol), n)).as("__g"))
      .select(col("__id"), col("n_tokens"),
        col("__g.pos").as("__pos"), col("__g.gram").as("__gram"))
    spanStats(hits, idCol, n)
  }

  /** Substring-level dedup as an EDIT, not just a report: rebuild each
    * document's normalized text with every duplicated span removed,
    * keeping exactly the copy in the gram's FIRST owner (min doc id) —
    * the "remove one copy of each duplicated substring" pass from the
    * same Lee et al. line of work [[spans]] measures. The owner doc
    * keeps all its tokens; every other doc loses the tokens its
    * duplicated grams cover.
    *
    * A token at position p is removed iff some non-owned duplicated
    * gram starting in (p−n, p] covers it — evaluated as one per-doc
    * window over the merged (token ∪ hit-start) stream (running max of
    * hit starts; the classic coverage sweep), so the cost is one
    * doc-bounded sort, identical in shape to [[spans]]' island merge.
    * Reconstruction is an order-stable fold (`array_sort` on (pos,
    * token) structs), never a window-ordered collect.
    *
    * Removing a span can make the tokens flanking it adjacent, which
    * can mint NEW cross-document n-grams; one pass removes one
    * generation of duplicates (iterate to a fixed point if the corpus
    * needs it — each pass only shrinks documents, so it terminates).
    *
    * Output: (idCol, n_tokens, n_removed, clean_text) — one row per
    * input document; untouched documents round-trip their normalized
    * text verbatim.
    */
  def scrub(docs: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    NativeText.register(docs.sparkSession)
    val toks = docs.select(col(idCol).as("__id"),
      split(TextFunctions.normalizeText(col(textCol)), " ").as("__w"))
    val hits = toks
      .select(col("__id"), posexplode(NativeText.shingleHash32(col("__w"), n)))
      .select(col("__id"), (col("pos") + 1).as("__p"), col("col").as("__gram"))
    scrubCore(toks, hits, idCol, n)
  }

  /** The string-comparison truth for [[scrub]] — identical semantics
    * minus the hash (no collision budget), at materialized-gram cost;
    * the cross-check twin, exactly as [[spansExact]] is to [[spans]].
    */
  def scrubExact(docs: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"),
      split(TextFunctions.normalizeText(col(textCol)), " ").as("__w"))
    val hits = docs
      .select(col(idCol).as("__id"), explode(tokenGrams(col(textCol), n)).as("__g"))
      .select(col("__id"), col("__g.pos").as("__p"), col("__g.gram").as("__gram"))
    scrubCore(toks, hits, idCol, n)
  }

  /** [[scrub]] iterated until NO duplicated span remains: removing a
    * span can make its flanking tokens adjacent and mint NEW
    * cross-document n-grams, so one pass removes one GENERATION of
    * duplicates; this loops until a pass removes nothing. Each pass
    * only shrinks documents (tokens are never added), so the loop
    * terminates — `maxPasses` is a guard against pathological corpora,
    * not a semantic knob, and overrunning it throws rather than
    * returning a silently-unconverged corpus.
    *
    * Driver/restart contract (same as the iterative graph operators):
    * each pass is one Spark job over the full corpus plus a 1-row
    * aggregate, anchored by an eager `localCheckpoint` whose blocks
    * live on executors — an executor loss mid-loop invalidates them
    * and the call must be rerun from the start. Real corpora converge
    * in 2–3 passes (a minted gram needs n-1 surviving tokens on each
    * side of a removed span that line up across documents).
    *
    * Returns the [[scrub]]-shaped frame — (idCol, n_tokens = ORIGINAL
    * token count, n_removed = cumulative across passes, clean_text =
    * final) — plus the number of passes run.
    */
  def scrubToFixedPoint(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 8,
      maxPasses: Int = 10): (DataFrame, Int) = {
    require(maxPasses >= 1, s"need maxPasses >= 1, got $maxPasses")
    val first = scrub(docs, idCol, textCol, n).localCheckpoint()
    var last = first
    var passes = 1
    var removed = last.agg(sum("n_removed")).collect().head.getLong(0)
    while (removed > 0L) {
      if (passes >= maxPasses)
        throw new IllegalStateException(
          s"scrubToFixedPoint: still removing spans after $maxPasses passes")
      val next = scrub(last, idCol, "clean_text", n).localCheckpoint()
      removed = next.agg(sum("n_removed")).collect().head.getLong(0)
      if (last ne first) Blocks.drop(last)
      last = next
      passes += 1
    }
    // kept = last pass's surviving tokens; a doc scrubbed to "" reads
    // back as ONE phantom token on the next pass (split("", " ") is
    // [""]), so empty text pins kept to 0 explicitly
    val result = first.select(col(idCol), col("n_tokens"))
      .join(last.select(col(idCol),
        when(col("clean_text") === "", lit(0L))
          .otherwise(col("n_tokens") - col("n_removed")).as("__kept"),
        col("clean_text")), Seq(idCol))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - col("__kept")).as("n_removed"), col("clean_text"))
    (result, passes)
  }

  private def scrubCore(
      toks: DataFrame, hits: DataFrame, idCol: String, n: Int): DataFrame = {
    val owned = hits.groupBy("__gram")
      .agg(min(col("__id")).as("__owner"),
        (min(col("__id")) =!= max(col("__id"))).as("__multi"))
      .filter(col("__multi"))
    val bad = hits.join(owned, "__gram")
      .filter(col("__id") =!= col("__owner"))
      .select(col("__id"), col("__p"), lit(0).as("__kind"),
        lit(null).cast("string").as("__tok"))
    val tokens = toks
      .select(col("__id"), posexplode(col("__w")))
      .select(col("__id"), (col("pos") + 1).as("__p"), lit(1).as("__kind"),
        col("col").as("__tok"))
    // hit markers sort BEFORE the token at the same position, so a
    // gram's own first token counts as covered in both engines
    val sweep = Window.partitionBy("__id").orderBy("__p", "__kind")
      .rowsBetween(Window.unboundedPreceding, 0)
    val kept = bad.unionByName(tokens)
      .withColumn("__last",
        max(when(col("__kind") === 0, col("__p"))).over(sweep))
      .filter(col("__kind") === 1 &&
        (col("__last").isNull || col("__p") - col("__last") > n - 1))
    val rebuilt = kept.groupBy("__id").agg(
      count(lit(1)).as("__kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("__p").as("p"), col("__tok").as("t")))),
        s => s.getField("t")), " ").as("clean_text"))
    toks.select(col("__id"), size(col("__w")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  private def spanStats(hits: DataFrame, idCol: String, n: Int): DataFrame = {
    val repeated = hits.groupBy("__gram")
      .agg((min(col("__id")) =!= max(col("__id"))).as("__multi"))
      .filter(col("__multi"))
      .select("__gram")
    val ordered = Window.partitionBy("__id").orderBy("__pos")
    val prevEnd = max(col("__pos")).over(
      ordered.rowsBetween(Window.unboundedPreceding, -1)) + n
    val flagged = hits.join(repeated, "__gram")
      .withColumn("__new_span",
        when(col("__pos") > coalesce(prevEnd, lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__span", sum(col("__new_span")).over(
        ordered.rowsBetween(Window.unboundedPreceding, 0)))
    flagged
      .groupBy(col("__id"), col("n_tokens"), col("__span"))
      .agg(count(lit(1)).as("__hits"),
        (max(col("__pos")) + n - min(col("__pos"))).cast("long").as("__span_tokens"))
      .groupBy(col("__id"), col("n_tokens"))
      .agg(sum(col("__hits")).as("dup_grams"),
        count(lit(1)).as("n_spans"),
        sum(col("__span_tokens")).as("dup_tokens"))
      .select(col("__id").as(idCol), col("n_tokens"), col("dup_grams"),
        col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_coverage"))
  }
}
