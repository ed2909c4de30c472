package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting. All pure Column
  * expressions (codegen'd, UDF-free) — they compose into any pipeline
  * without breaking whole-stage codegen or predicate pushdown.
  */
object TextAnalysis {

  /** Tokens of a SINGLE-SPACE-separated text column. CONTRACT: the
    * split is the literal ' ' — runs of spaces yield empty-string
    * tokens and tabs/newlines do not split — because every declared
    * query's DuckDB oracle mirrors this exact split and the synthetic
    * corpora are single-space normalized. */
  def tokens(text: Column): Column = split(text, " ")

  /** All row-local token statistics in ONE codegen pass — the
    * `graft.functions.TokenStats` kernel: `STRUCT<n_tokens,
    * n_distinct, stopword_hits, char_len>` (BIGINT fields), with
    * exactly the semantics of the declarative family over
    * `split(text, " ")`. Every helper below derives from this struct;
    * EQUAL calls (same text expression, same stopword list) inside
    * one stage are CSE'd, so composing several gates costs one scan —
    * where the old per-helper `split(text, " ")` re-ran the regex
    * split 4–6× per document (the `filter` HOF in stopwordRatio is
    * even excluded from subexpression elimination, SPARK-35886).
    * Pass the SAME `stopwords` to every gate you compose (extra
    * fields are free) or the subtrees won't be equal. */
  def tokenStats(text: Column, stopwords: Seq[String] = Nil): Column =
    graft.functions.GraftFunctions.tokenStats(text, stopwords)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    tokenStats(text).getField("n_tokens")

  /** Stopword ratio against a given vocabulary. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val st = tokenStats(text, stopwords)
    st.getField("stopword_hits").cast("double") /
      st.getField("n_tokens").cast("double")
  }

  /** n-gram-heuristic language ID: classifies as `lang` when the
    * stopword ratio for that language's function words clears the
    * threshold. Real corpora would chain several languages' lists. */
  def langId(text: Column,
      stopwords: Seq[String] = Seq("a", "the"),
      lang: String = "en",
      threshold: Double = 0.05): Column =
    when(stopwordRatio(text, stopwords) >= threshold, lang).otherwise("und")

  /** Multi-language stopword language ID over a corpus frame — the
    * #languages-scalable form of [[langId]]: one token explode, one
    * BROADCAST join against the (word → lang) dictionary, one per-doc
    * conditional aggregate (map-side combined). A kernel-per-language
    * re-scans each doc's text per language; this costs one pass no
    * matter how many languages the dictionary grows.
    *
    * Dictionary words must be UNIQUE across languages (shared function
    * words are non-discriminative, and a multi-language word would
    * multiply its token row through the join and corrupt `n_tok`) —
    * enforced. Decision is all-integer: predict the max-hits language
    * when `best · denom ≥ n_tok` (i.e. ratio ≥ 1/denom), breaking hit
    * ties to the lexicographically smallest language; 'und' otherwise.
    *
    * Output: `idCols…, n_tok, hits_<lang>… (dictionary langs, sorted),
    * pred_lang`. Docs whose text is empty still produce a row (split
    * of "" is [""], one token). */
  def langIdMulti(docs: DataFrame, idCols: Seq[String], textCol: Column,
      dict: Seq[(String, String)], denom: Int = 20): DataFrame = {
    require(dict.nonEmpty && denom >= 1, "need a dictionary and denom >= 1")
    require(dict.map(_._1).distinct.size == dict.size,
      "dictionary words must be unique across languages — drop shared " +
        "function words (they are non-discriminative and would corrupt n_tok)")
    val langs = dict.map(_._2).distinct.sorted
    require(langs.forall(l => !idCols.contains(s"hits_$l")),
      s"idCols collide with a hits_<lang> output column")
    val stop = broadcast(
      docs.sparkSession.createDataFrame(dict).toDF("__tok", "__slang"))
    val hitCols = langs.map(l =>
      sum(when(col("__slang") === l, 1L).otherwise(0L)).as(s"hits_$l"))
    val best =
      if (langs.size == 1) col(s"hits_${langs.head}")
      else greatest(langs.map(l => col(s"hits_$l")): _*)
    // lexicographic-smallest tie-break: test langs in sorted order
    val pred = langs.init.foldRight(lit(langs.last)) { (l, rest) =>
      when(col(s"hits_$l") === best, l).otherwise(rest)
    }
    docs
      .select(idCols.map(col) :+ explode(tokens(textCol)).as("__tok"): _*)
      .join(stop, Seq("__tok"), "left")
      .groupBy(idCols.map(col): _*)
      .agg(count(lit(1)).as("n_tok"), hitCols: _*)
      .withColumn("pred_lang",
        when(best * denom >= col("n_tok"), pred).otherwise("und"))
  }

  /** Type-token ratio (lexical diversity). `stopwords` only selects
    * which kernel subtree the ratio reads — pass the list shared with
    * the other gates in the same stage so CSE sees one call. */
  def typeTokenRatio(text: Column, stopwords: Seq[String] = Nil): Column = {
    val st = tokenStats(text, stopwords)
    st.getField("n_distinct").cast("double") /
      st.getField("n_tokens").cast("double")
  }

  /** Average token length in characters. */
  def avgWordLen(text: Column): Column = {
    val st = tokenStats(text)
    val n = st.getField("n_tokens")
    (st.getField("char_len") - (n - lit(1L))).cast("double") / n.cast("double")
  }

  /** Composite quality gate: length band + lexical diversity.
    * `stopwords` is forwarded to the kernel call only (the gate never
    * reads stopword_hits) so a pipeline composing this with [[langId]]
    * shares one kernel evaluation. */
  def qualityOk(text: Column, minTokens: Int = 30, minTtr: Double = 0.3,
      stopwords: Seq[String] = Nil): Column = {
    val st = tokenStats(text, stopwords)
    st.getField("n_tokens") >= minTokens &&
      (st.getField("n_distinct").cast("double") /
        st.getField("n_tokens").cast("double")) >= minTtr
  }

  /** Full-content fingerprint. */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Email pattern, restricted to syntax with identical semantics in
    * Java regex and RE2 (explicit character classes, no lookaround) so
    * the same literal runs in Spark and the DuckDB oracle. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** URL pattern — explicit character class instead of `\S` (whose
    * definition differs between Java regex and RE2). */
  // '@' IS in the class: without it a userinfo URL
  // (https://user@host/x) matched only through "https://user", and
  // the email pass then consumed "URL@host" — mangling the
  // placeholder the scrub order exists to protect. The oracle SQL
  // carries this exact pattern verbatim (ExtendedQueries q_scrub_pii).
  val UrlRe = "https?://[A-Za-z0-9./_%?=&#:@-]+"

  /** Number of non-overlapping matches of `re` in `text`. */
  def countMatches(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  /** PII scrubbing: redact URLs then emails with placeholder tokens —
    * the pre-training privacy pass. URLs first: in a userinfo URL
    * (`https://u@host/`) the scheme+user prefix is taken by the URL
    * pass, so the email pass never re-classifies `u@host` as an
    * address. Idempotent (placeholders contain no `@` or `://`, so a
    * second pass matches nothing).
    *
    * Scale: row-local codegen'd `regexp_replace` — no shuffle; both
    * patterns are backtracking-safe (no nested quantifiers). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>")
}
