package graft.queries

import org.apache.spark.sql.functions._

/** The COMPOSED cleaning pipeline under the DuckDB oracle — the
  * training-data capstone (r14 verdict #3), the analog of what
  * q_star_schema is for the reference side: `graft.ops.CorpusClean`
  * chains language filter → quality filter → exact dedup →
  * LSH-verified near-dedup (every stage already declared individually
  * as q_text_langid / q_text_quality / q_quality_gates / q_dedup_exact
  * / q_dedup_minhash_lsh / q_dedup_ngram_jaccard), and this row
  * hash-verifies the COMPOSITION: per-stage survivor counts plus an
  * md5 digest of the surviving doc-id set, against a DuckDB oracle
  * that composes the same per-stage CTE chains.
  *
  * The query drives `CorpusClean.accounting` (library defaults:
  * en stopwords {a, the} at ratio ≥ 1/20, ≥30 tokens, TTR ≥ 0.3,
  * 8 MinHash perms × 2 bands over 3-shingles, Jaccard ≥ 0.8, greedy
  * higher-id drop) — the accounting entry point of the ONE cleaning
  * pipeline `clean()` also runs (same flag, near-dup, drop-list and
  * stage-count steps; AccountingParitySpec pins both against an
  * independent reference built from the public Dedup operators):
  * every stage's survival is a flag column and one final aggregate
  * computes all four counts plus the survivor digest, so every
  * invocation still pays the full pipeline's computation — filters,
  * keep-first window, MinHash/LSH/Jaccard — in two actions (the
  * size-guarded drop list, then the aggregate), not five (r15
  * verdict #2: the eager form spent ~146 stages on accounting
  * orchestration).
  *
  * Scale shape (PlanSpec-gated): after the shingle explode the text
  * column never enters an exchange — MinHash minima, band keys and
  * Jaccard counts shuffle as (id, hash) pairs; the one legitimate
  * text-bearing exchange is the exact-dedup keep-first window
  * (keyed on the md5 fingerprint), which runs BEFORE tokenization;
  * the near-dup drop list applies as a BROADCAST join while it fits
  * the drop-list size guard (published and joined distributed
  * above it). The
  * survivor digest is the one deliberate small-data gather: an
  * ordered fold over |survivor ids| longs in a single aggregate
  * buffer — the oracle-parity choice (md5 of the sorted id list); a
  * 100 TB run would swap it for a commutative per-id hash sum, which
  * the sorted-list form exists to cross-check at test scale.
  */
object CorpusCleanQueries {

  val queries: Map[String, QFn] = Map(
    "q_corpus_clean" -> { (s, d) =>
      val docs = ExtendedQueries.docProfile(s, d)
        .select(col("doc_id"), col("text"))
      // ONE lazy plan (r15 verdict #2): stage-survival flags +
      // conditional aggregates + the survivor digest in a single job —
      // the clean()+stageStats()+digest form ran ~146 stages / 5-6 s
      // of multi-action orchestration for the same 4-row answer
      // (AccountingParitySpec pins it against an independent
      // reference; clean() runs the same steps in q_train_pipeline's
      // memo build and the clean()-driven specs)
      graft.ops.CorpusClean.accounting(docs, col("text"), col("doc_id"))
        .orderBy(col("stage"))
    },

    // The FULL training-data pipeline composed under one oracle (r15
    // continuation — one step past q_corpus_clean): clean → content-
    // hash split → greedy sequence packing, i.e. the complete
    // corpus-to-training-batches path a data run executes, each stage
    // already declared individually (q_corpus_clean, q_train_split,
    // q_pack_sequences). The declared frame is the pack accounting
    // over the CLEANED train split — the doc set entering the packer
    // is the composition signal: a single document wrongly kept,
    // dropped or mis-split upstream shifts every cumulative sum and
    // bin id behind it, so the hash pins the whole chain. The
    // survivors come from `ExtendedQueries.cleanedCorpus` — the
    // clean-once/derive-many lifecycle (a production run cleans once
    // and derives splits/packs/vocab from the survivors; q_corpus_clean
    // keeps timing the cleaning itself per invocation by design). The
    // oracle recomputes the whole chain, the disclosed prebuilt
    // asymmetry every session memo carries.
    "q_train_pipeline" -> { (s, d) =>
      val train = ExtendedQueries.cleanedCorpus(s, d)
        .filter(graft.ops.TrainPrep.splitLabel(col("text")) === "train")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard_key"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.ops.TrainPrep.packBins(
          train, col("shard_key"), col("doc_id"), col("n_tok"), budget = 2048L)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("bin"))
    })

  // The oracle composes the SAME per-stage CTE chains the individual
  // declared queries use (langid ratio gate, token/TTR quality gate,
  // md5 keep-first, the q_dedup_minhash_lsh minhash/band/candidate
  // chain, the q_dedup_ngram_jaccard pair-first intersection) over
  // each stage's survivor set, at CorpusClean's library defaults.
  val sql: Map[String, String] = Map(
    "q_corpus_clean" ->
      """WITH flags AS (
        |  SELECT doc_id, text,
        |    (len(list_filter(w, t -> t IN ('a', 'the'))) * 1.0 / len(w)) >= 0.05 AS lang_ok,
        |    len(w) >= 30 AND (len(list_distinct(w)) * 1.0 / len(w)) >= 0.3 AS qual_ok
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |), exact AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM flags WHERE lang_ok AND qual_ok)
        |  WHERE rn = 1
        |), sh AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
        |         , unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
        |    WHERE len(w) >= 3
        |), mh AS (
        |  SELECT doc_id,
        |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
        |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
        |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
        |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
        |  FROM sh GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, 1 AS band, md5(m0 || m1 || m2 || m3) AS h FROM mh
        |  UNION ALL
        |  SELECT doc_id, 2 AS band, md5(m4 || m5 || m6 || m7) AS h FROM mh
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
        |), shd AS (
        |  SELECT DISTINCT * FROM sh
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
        |), inter AS (
        |  SELECT c.id1, c.id2, count(*) AS inter
        |  FROM cand c
        |  JOIN shd a ON a.doc_id = c.id1
        |  JOIN shd b ON b.doc_id = c.id2 AND b.s = a.s
        |  GROUP BY 1, 2
        |), drops AS (
        |  SELECT DISTINCT i.id2 AS doc_id
        |  FROM inter i
        |  JOIN sizes s1 ON s1.doc_id = i.id1
        |  JOIN sizes s2 ON s2.doc_id = i.id2
        |  WHERE i.inter * 1.0 / (s1.n + s2.n - i.inter) >= 0.8
        |), surv AS (
        |  SELECT e.doc_id FROM exact e
        |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = e.doc_id)
        |), counts AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |    CAST(sum(CASE WHEN lang_ok AND qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_qual
        |  FROM flags
        |), nex AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact
        |), nnr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_near FROM surv
        |), dg AS (
        |  SELECT md5(coalesce(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id), '')) AS survivors_md5
        |  FROM surv
        |)
        |SELECT st.stage, st.docs_in, st.docs_out, dg.survivors_md5
        |FROM (
        |  SELECT 'language' AS stage, total AS docs_in, n_lang AS docs_out FROM counts
        |  UNION ALL
        |  SELECT 'quality', n_lang, n_qual FROM counts
        |  UNION ALL
        |  SELECT 'exact_dedup', n_qual, n_exact FROM counts, nex
        |  UNION ALL
        |  SELECT 'near_dedup', n_exact, n_near FROM nex, nnr
        |) st, dg
        |ORDER BY stage""".stripMargin,

    // the q_corpus_clean chain verbatim (survivors carry text), then
    // the q_train_split content-hash gate and the q_pack_sequences
    // cumulative-sum bin assignment over the cleaned train split
    "q_train_pipeline" ->
      """WITH flags AS (
        |  SELECT doc_id, text,
        |    (len(list_filter(w, t -> t IN ('a', 'the'))) * 1.0 / len(w)) >= 0.05 AS lang_ok,
        |    len(w) >= 30 AND (len(list_distinct(w)) * 1.0 / len(w)) >= 0.3 AS qual_ok
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |), exact AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM flags WHERE lang_ok AND qual_ok)
        |  WHERE rn = 1
        |), sh AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
        |         , unnest(range(1, greatest(len(w) - 1, 1))) AS u(i)
        |    WHERE len(w) >= 3
        |), mh AS (
        |  SELECT doc_id,
        |    min(md5('0|' || s)) AS m0, min(md5('1|' || s)) AS m1,
        |    min(md5('2|' || s)) AS m2, min(md5('3|' || s)) AS m3,
        |    min(md5('4|' || s)) AS m4, min(md5('5|' || s)) AS m5,
        |    min(md5('6|' || s)) AS m6, min(md5('7|' || s)) AS m7
        |  FROM sh GROUP BY doc_id
        |), bands AS (
        |  SELECT doc_id, 1 AS band, md5(m0 || m1 || m2 || m3) AS h FROM mh
        |  UNION ALL
        |  SELECT doc_id, 2 AS band, md5(m4 || m5 || m6 || m7) AS h FROM mh
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
        |), shd AS (
        |  SELECT DISTINCT * FROM sh
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
        |), inter AS (
        |  SELECT c.id1, c.id2, count(*) AS inter
        |  FROM cand c
        |  JOIN shd a ON a.doc_id = c.id1
        |  JOIN shd b ON b.doc_id = c.id2 AND b.s = a.s
        |  GROUP BY 1, 2
        |), drops AS (
        |  SELECT DISTINCT i.id2 AS doc_id
        |  FROM inter i
        |  JOIN sizes s1 ON s1.doc_id = i.id1
        |  JOIN sizes s2 ON s2.doc_id = i.id2
        |  WHERE i.inter * 1.0 / (s1.n + s2.n - i.inter) >= 0.8
        |), surv AS (
        |  SELECT e.doc_id, e.text FROM exact e
        |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = e.doc_id)
        |), train AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         len(string_split(text, ' ')) AS n_tok
        |  FROM surv
        |  WHERE md5(text) >= '29'
        |), cum AS (
        |  SELECT doc_id, shard, n_tok,
        |         sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM train
        |)
        |SELECT shard, CAST((c - n_tok) // 2048 AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM cum
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
