package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** Inverted index — the Spark-native re-expression of the reference's
  * single MR job (ref: InvertedIndex.java:36-133):
  *
  *   tokenize(scrub(text)) → (word, doc_id) per OCCURRENCE →
  *   group by word → comma-joined posting list.
  *
  * Reference semantics kept:
  *  - duplicates preserved: one id per word occurrence, no dedup
  *    (ref: InvertedIndex.java:103-105);
  *  - words are lowercased alpha runs (ref: InvertedIndex.java:100-104).
  *
  * Deliberate divergence (SURVEY.md §7.5): posting lists are sorted by
  * doc id (numeric) before joining — the reference's order is shuffle-order
  * nondeterministic (ref: InvertedIndex.java:125-130), which would make any
  * cross-engine check impossible.
  *
  * Scale notes: one shuffle (the groupBy), identical topology to the MR
  * job but with Spark's map-side partial aggregation. At 100 TB the only
  * hazard is posting-list skew for stop-words ([[postingsSalted]] bounds
  * the per-task group); `postings` keeps the list as ArrayType so a later
  * consumer can spill per-word, and callers who only need frequencies
  * should aggregate counts instead of lists.
  */
object InvertedIndex {

  /** (word, docId) pair stream — one row per occurrence. Since r16 the
    * scrub → lower → split → explode chain is the fused single-pass
    * byte scan [[graft.functions.AlphaTokens]] (maximal ASCII-letter
    * runs, lowercased): the composed form cost two regex passes plus
    * two whole-string copies per document — the dominant per-task cost
    * of the GB-scale dump_index leg. Bit-identical tokens (TokensSpec
    * pins the equivalence; the inverted_index oracles re-certify it). */
  def occurrences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.AlphaTokens.tokens(col(textCol))).as("word"))
      .select(col("word"), col("doc_id"))

  /** The pre-r16 composed form of [[occurrences]] — the TokensSpec
    * cross-check target. */
  private[graft] def occurrencesComposed(docs: DataFrame, idCol: String,
                                         textCol: String): DataFrame =
    TextOps
      .explodeTokens(
        docs.select(col(idCol).as("doc_id"),
          TextOps.normalizeToken(TextOps.scrubNonAlpha(col(textCol))).as("t")),
        col("t"), "word")
      .select(col("word"), col("doc_id"))

  /** word → sorted ArrayType posting list (ids repeat per occurrence).
    *
    * ONE hash exchange by word, the reference job's single shuffle
    * (ref: InvertedIndex.java:36-133): `collect_list` of the occurrence
    * ids per word, then a numeric `sort_array`. Duplicates survive as
    * adjacent repeats, so a doc id that occurs n times in a word's group
    * (n occurrences in one row, or rows sharing the id) appears n times.
    * A null doc id gets no entry (collect_list skips nulls); the salted
    * build keeps it as a null element, which [[postingStrings]] drops in
    * both builds.
    *
    * An earlier form first counted per (word, doc_id) and rebuilt the
    * list with `array_repeat`, as a combiner bounding each group at
    * #docs entries. It cost an extra exchange and a struct sort per
    * group. On perfbench `wiki_index` (6.8 MB / 6k-doc Zipf dump,
    * local[4] on a shared 4-core host) the dump pipeline with this form
    * and the 1 MB split floor of [[graft.sources.TextKV.readPages]] runs
    * in 4 Spark jobs / 4 stages instead of 6 / 6, and its median
    * `wall_s` over 10 alternating pairs fell from 4.09 s to 2.18 s.
    * Output is bit-identical (TextOpsSpec pins it against
    * [[postingsSalted]]). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    occurrences(docs, idCol, textCol)
      .groupBy("word")
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))

  /** Range-salted variant of [[postings]] for stop-word skew: the plain
    * build's collect_list puts a hot word's ENTIRE posting list (one
    * entry per occurrence) into one task — the skew case of the GB-scale
    * bench dump, where the `[[Pn]]` markup scrubs to a "p" word hitting
    * every page.
    *
    * Level 1 counts per (word, doc_id), so the shuffle carries one row
    * per distinct pair. The salt is doc_id DIV `rangeWidth` — a RANGE,
    * not a hash: phase A builds per-(word, range) sub-lists (each task
    * sorts ≤ rangeWidth distinct ids, regardless of corpus size), and
    * because ranges partition the id space in order, phase B just
    * CONCATENATES the sub-lists sorted by salt — no re-sort of elements,
    * so the output is bit-identical to [[postings]]. Cost: two more
    * exchanges than [[postings]] (the pair count and the per-word concat
    * of posting arrays).
    *
    * No caller takes it by default: the dump pipeline
    * ([[graft.pipelines.WikiPipelines.invertedIndex]]) uses the
    * one-exchange [[postings]], measured faster on the perfbench
    * `wiki_index` dump. Earlier GB-scale `Prof indexsalt` runs (1.8 GB /
    * 300k pages, hot "p" in every page) compared salted with the old
    * two-level plain build, not with the one-exchange form; that
    * comparison is unmeasured. It stays as the explicit skew escape
    * hatch and behind the `inverted_index_salted` key. */
  def postingsSalted(docs: DataFrame, idCol: String, textCol: String,
                     rangeWidth: Long = 16384L): DataFrame =
    occurrences(docs, idCol, textCol)
      .groupBy("word", "doc_id").agg(count(lit(1)).as("n"))
      .withColumn("salt", expr(s"doc_id div $rangeWidth"))
      .groupBy("word", "salt")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("doc_id"), col("n")))),
        p => array_repeat(p("doc_id"), p("n").cast("int")))).as("part"))
      .groupBy("word")
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("salt"), col("part")))),
        p => p("part"))).as("postings"))

  /** word → "id1,id2,…" string rows, byte-compatible with the reference's
    * text sink shape (ref: InvertedIndex.java:123-131) modulo sort order.
    * The default is the one-exchange [[postings]]; `salted = true` routes
    * through [[postingsSalted]] (bit-identical output, two more
    * exchanges). */
  def postingStrings(docs: DataFrame, idCol: String, textCol: String,
                     salted: Boolean = false): DataFrame =
    (if (salted) postingsSalted(docs, idCol, textCol)
     else postings(docs, idCol, textCol))
      .select(col("word"),
        concat_ws(",", transform(col("postings"), _.cast("string"))).as("doc_ids"))
}
