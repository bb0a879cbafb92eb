package graft.llm

import graft.plans.GraftExtensions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: quality scoring,
  * language ID, token counting, document fingerprinting. All pure
  * narrow projections (scan → project), codegen-friendly, linear at any
  * scale; every formula is mirrored verbatim in the DuckDB oracle.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram-heuristic language ID. The synthetic
    * corpus is English-shaped regardless of its `lang` label, so the
    * heuristic (deterministically) leans `en` — the *operator* is what is
    * under test, and both engines score identically.
    */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "los", "las", "una", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de", "shi", "bu", "wo", "ni"))

  /** The English stopword list by KEY — positional indexing into
    * [[Profiles]] would silently rebind `stop_ratio` to another
    * language's stopwords if a profile is ever added or reordered.
    */
  val EnStops: Seq[String] = Profiles.toMap.apply("en")

  private def inList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  /** Per-doc quality stats: token count, chars, avg token length, punct
    * count, stopword ratio, and a composite quality score. Ratios are
    * double divisions of exact ints — bit-identical cross-engine.
    */
  def textStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text")).withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        length(col("text")).cast("bigint").as("len_chars"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("toks")))
          .as("avg_token_len"),
        expr("cast(regexp_count(text, '[^a-z0-9 ]') as bigint)").as("punct_n"),
        expr(s"cast(size(filter(toks, t -> t in (${inList(EnStops)}))) as double) / size(toks)")
          .as("stop_ratio"))
      .withColumn("quality_score", expr(
        "least(cast(1.0 as double), n_tokens / cast(50.0 as double)) * cast(0.5 as double)" +
          " + stop_ratio * cast(0.3 as double)" +
          " + (cast(1.0 as double) - punct_n / cast(greatest(len_chars, 1) as double)) * cast(0.2 as double)"))

  /** Language ID by stopword-profile hit counts; argmax with a fixed
    * alphabetical preference order (de,en,es,fr,zh), all-zero → 'und'.
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      labelCol: String = "lang"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      col(labelCol).as("lang"))
    val scored = Profiles.foldLeft(base.withColumn("toks", split(col("text"), " "))) {
      case (d, (lang, ws)) =>
        d.withColumn(s"s_$lang", expr(s"cast(size(filter(toks, t -> t in (${inList(ws)}))) as bigint)"))
    }
    val langs = Profiles.map(_._1)
    val allZero = langs.map(l => col(s"s_$l") === 0).reduce(_ && _)
    val argmax = langs.foldRight(lit("und")) { (l, alt) =>
      val isMax = langs.filter(_ != l).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      when(isMax, lit(l)).otherwise(alt)
    }
    scored.select(
        (Seq(col("doc_id")) ++ langs.map(l => col(s"s_$l")) ++
          Seq(when(allZero, lit("und")).otherwise(argmax).as("predicted"),
            col("lang").as("labeled"))): _*)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenization
    * (letter/digit runs + single punctuation marks), plus chars/token.
    */
  def tokenCount(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text")).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("ws_tokens"),
        expr("cast(regexp_count(text, '[a-z0-9]+|[^a-z0-9 ]') as bigint)").as("re_tokens"),
        (length(col("text")).cast("double") / size(split(col("text"), " ")))
          .as("chars_per_token"))

  /** (doc_id, text, toks, shingles, all3, rep3_frac): trigram-repetition
    * columns shared by [[repetition]] and [[qualityFilter]] — one
    * definition, so the documented invariant that both queries derive the
    * SAME doubles (and the same oracle mirror) cannot silently diverge.
    */
  private def withRep3(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    LlmOps.withShingles(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .withColumn("all3", expr(LlmOps.TrigramListSql))
      .withColumn("rep3_frac",
        lit(1.0) - size(col("shingles")).cast("double") / size(col("all3")))

  /** Intra-document repetition scoring — the standard "fraction of
    * duplicated word n-grams" curation signal (a high score marks
    * boilerplate/looping text): rep_n = 1 - distinct/total over word
    * trigrams. Narrow projection, linear.
    */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    withRep3(docs, idCol, textCol)
      .select(
        col("doc_id"),
        size(col("all3")).cast("bigint").as("n_grams"),
        size(col("shingles")).cast("bigint").as("n_distinct"),
        col("rep3_frac"))

  /** C4/Gopher-style rule-based quality filter — the composed keep/drop
    * decision a curation pipeline runs before training, with per-rule
    * fail flags kept observable (corpus forensics need to know WHY a doc
    * dropped, not just that it did): too short, mean token length outside
    * the plausible band (BOTH cuts — single-character gibberish fails the
    * low side, unbroken-run junk the high side, the Gopher word-length
    * band), trigram repetition, punctuation density. One narrow
    * projection, no shuffle, whole-stage-codegen friendly — linear at any
    * corpus size. Thresholds are the knobs; defaults follow the published
    * heuristics (Gopher word-length band, C4-ish repetition cut).
    */
  def qualityFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minTokens: Int = 10,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 12.0,
      maxRep3: Double = 0.2, maxPunctRatio: Double = 0.3): DataFrame =
    qualityFlags(docs, idCol, textCol, minTokens, minAvgTokenLen,
      maxAvgTokenLen, maxRep3, maxPunctRatio).drop("text")

  /** [[qualityFilter]]'s flag derivation WITH the doc's text retained —
    * the form a consumer that needs (text, keep) label rows uses
    * ([[LlmOps.qclfCounts]]'s in-row label pass): same flags, same
    * thresholds, one projection — deriving the label alongside the text
    * instead of joining the published flag frame back to the corpus (a
    * corpus-sized doc_id shuffle at 100 TB). [[qualityFilter]] IS this
    * frame minus `text`, so the two can never drift.
    */
  def qualityFlags(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minTokens: Int = 10,
      minAvgTokenLen: Double = 3.0, maxAvgTokenLen: Double = 12.0,
      maxRep3: Double = 0.2, maxPunctRatio: Double = 0.3): DataFrame =
    withRep3(docs, idCol, textCol)
      .select(
        col("doc_id"), col("text"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("toks")))
          .as("avg_token_len"),
        col("rep3_frac"),
        (expr("cast(regexp_count(text, '[^a-z0-9 ]') as double)") /
          greatest(length(col("text")), lit(1)).cast("double")).as("punct_ratio"))
      .withColumn("fail_short", col("n_tokens") < minTokens)
      .withColumn("fail_token_len",
        col("avg_token_len") < minAvgTokenLen || col("avg_token_len") > maxAvgTokenLen)
      .withColumn("fail_repetition", col("rep3_frac") > maxRep3)
      .withColumn("fail_punct", col("punct_ratio") > maxPunctRatio)
      .withColumn("keep", !col("fail_short") && !col("fail_token_len") &&
        !col("fail_repetition") && !col("fail_punct"))

  /** PII scrubbing: mask email-shaped and long-digit-run tokens — the
    * text-cleaning pass every corpus pipeline runs before training. The
    * regexes stay in the Java∩RE2 common dialect so the oracle matches.
    */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
          "[0-9]{7,}", "<NUM>").as("scrubbed"),
        expr("cast(regexp_count(text, '[a-z0-9._]+@[a-z0-9.-]+') as bigint)").as("n_emails"))

  /** Deterministic train/val/test assignment by content-independent id
    * hash — the split every training pipeline needs: stable under
    * reprocessing (pure function of the id), exactly reproducible across
    * engines, no RNG state. Fractions are percents of the 56-bit hash
    * space mod 100.
    */
  def trainValSplit(docs: DataFrame, idCol: String = "doc_id",
      trainPct: Int = 90, valPct: Int = 5): DataFrame =
    GraftExtensions.register(docs).select(col(idCol).as("doc_id"))
      .withColumn("bucket", expr(s"${LlmOps.h56(s"concat('split|', cast(doc_id as string))")} % 100"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .select("doc_id", "bucket", "split")

  /** Document fingerprinting: a char-level rolling polynomial hash
    * (acc*31 + ascii, mod 1e9+7 — ordered fold, exact ints) plus the
    * min-shingle-hash fingerprint (the winnowing-style content signature).
    * The char array comes from regexp_extract_all('.') so the fold is
    * linear — indexing with substr(text,i,1) is O(n²) per doc (substr
    * re-scans codepoints from the start in both engines).
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    LlmOps.withShingles(GraftExtensions.register(docs)
      .select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(
        col("doc_id"),
        expr("aggregate(regexp_extract_all(text, '.', 0), cast(0 as bigint), (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")
          .as("rolling_fp"),
        expr(s"array_min(transform(shingles, s -> ${LlmOps.h56("s")}))").as("min_shingle_fp"))
}
