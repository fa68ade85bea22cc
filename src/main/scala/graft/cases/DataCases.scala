package graft.cases

import org.apache.spark.sql.functions._

import graft.Case
import graft.Case._
import graft.Twin.unrolled
import graft.synth.{LshSql, SynthSql2}
import graft.text.{Dedup, Packing, TextOps}

/** Training-data pipeline plane: dedup, text statistics and filters,
  * packing and chunking over the `documents` table.
  */
object DataCases {
  /** Domain-mixture keep rates for `d_mixture_sample` (exact per-10000
    * thresholds; sources not listed fall to the default).
    */
  private val MixtureRates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
  private val MixtureDefaultRate = 0.1

  private val minhash = unrolled(10)(LshSql.minhashGroupsSql(16, 8, 3, 0.5, 1000, _))

  val cases: Seq[Case] = Seq(
    query("d_dedup_norm", SynthSql2.dedupNormSql)((s, dir) =>
      Dedup.normalized(table(s, dir, "documents"), "doc_id", "text")),
    query("d_textstats", SynthSql2.textStatsSql)((s, dir) =>
      TextOps.textStats(table(s, dir, "documents"), "text", "doc_id")),
    query("d_quality", SynthSql2.qualitySql)((s, dir) =>
      TextOps.qualityScore(table(s, dir, "documents"), "text", "doc_id")),
    query("d_langid", SynthSql2.langIdSql(TextOps.Stopwords))((s, dir) =>
      TextOps.langId(table(s, dir, "documents"), "text", "doc_id")),
    query("d_fingerprint", SynthSql2.fingerprintSql)((s, dir) =>
      table(s, dir, "documents").select(col("doc_id"), TextOps.docFingerprint(col("text")).as("fp"))),
    // end-to-end training-data prep: quality gate (>= 0.7) AND exact
    // normalized-dedup survivor (canonical doc), then per-language
    // corpus stats — the composed filter->dedup->langid->stats flow a
    // real corpus build runs, in one declarative plan
    query("d_prep_pipeline", SynthSql2.prepPipelineSql(TextOps.Stopwords)) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val q = TextOps.qualityScore(docs, "text", "doc_id")
      val l = TextOps.langId(docs, "text", "doc_id")
      val canon = Dedup.normalized(docs, "doc_id", "text")
      val toks = docs.select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tokens"))
      q.join(l, "doc_id").join(canon, "doc_id").join(toks, "doc_id")
        .where(col("quality") >= 0.7 && col("canonical_id") === col("doc_id"))
        .groupBy(col("lang_guess").as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          round(sum(col("quality")), 2).as("quality_sum"))
    },
    // concat-and-chunk sequence packing (GPT-style: hash-bucketed token
    // streams chunked at a fixed budget — the per-doc (seq, offset)
    // assignment plus the per-chunk fill stats a training build monitors)
    query("d_pack_chunks", SynthSql2.packChunksSql(512, 8))((s, dir) =>
      Packing.packChunks(table(s, dir, "documents"), maxTokens = 512, buckets = 8)),
    query("d_pack_stats", SynthSql2.packStatsSql(512, 8))((s, dir) =>
      Packing.chunkStats(Packing.packChunks(table(s, dir, "documents"), maxTokens = 512, buckets = 8))),
    // RAG token-window chunking (stride-overlapped retrieval chunks) and
    // per-doc top-3 tf-idf terms (corpus keyword signal)
    query("d_chunk_windows", SynthSql2.tokenChunksSql(32, 24))((s, dir) =>
      Packing.tokenChunks(table(s, dir, "documents"), "doc_id", "text", 32, 24)),
    query("d_tfidf_top", SynthSql2.tfidfTopSql(3))((s, dir) =>
      TextOps.tfidfTop(table(s, dir, "documents"), "doc_id", "text", 3)),
    // benchmark decontamination: train-split docs sharing >= 2 distinct
    // word 3-grams with any test-split doc (the train-vs-eval overlap
    // scrub run before pretraining), over the same deterministic split
    query("d_decontaminate", LshSql.decontaminateSql())((s, dir) =>
      Dedup.decontaminate(TextOps.hashSplit(table(s, dir, "documents"), "doc_id"),
        "doc_id", "text", "split")),
    // deterministic train/valid/test split (portable-hash buckets, no
    // rand() — resume-safe and cluster-size-stable) + per-(split, lang)
    // stratified corpus stats: the split step of a training-data build
    query("d_split_stratified", SynthSql2.splitStratifiedSql(TextOps.Stopwords)) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val split = TextOps.hashSplit(docs.select(col("doc_id"), col("text")), "doc_id")
      val lang = TextOps.langId(docs, "text", "doc_id")
      split.join(lang, "doc_id")
        .groupBy(col("split"), col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("tot_tokens"))
    },
    // MinHash near-dup groups — full-value oracle via the portable hash
    // family (LshSql twin restates the whole pipeline in DuckDB SQL)
    query("d_minhash_groups", minhash)((s, dir) =>
      Dedup.minhashGroups(table(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 8, shingleSize = 3, threshold = 0.5)),
    query("d_simhash_pairs", LshSql.simhashPairsSql(maxDist = 3))((s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), "doc_id", "text", maxDist = 3)),
    // PII scrub: the corpus is PII-free, so a deterministic PII suffix is
    // injected from doc_id (identically in the SQL twin) — the redaction
    // regexes then have real matches to count and mask cross-engine
    query("d_pii_redact", SynthSql2.piiRedactSql(TextOps.EmailRe, TextOps.Ipv4Re, TextOps.PhoneRe)) {
      (s, dir) =>
        val injected = table(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com call 555-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
            lit(" from 10.0."), pmod(col("doc_id"), lit(200L)).cast("string"),
            lit(".7")).as("text"))
        TextOps.piiRedact(injected, "doc_id", "text")
    },
    // Gopher-style repetition signals (dup/top 2-gram fractions)
    query("d_repetition", SynthSql2.repetitionSql)((s, dir) =>
      TextOps.repetitionSignals(table(s, dir, "documents"), "doc_id", "text")),
    // Gopher §A1.1 rule battery: word-count bounds, mean word length,
    // symbol ratio, alpha-word fraction, stopword floor + keep flag
    query("d_gopher_rules", SynthSql2.gopherSql())((s, dir) =>
      TextOps.gopherRules(table(s, dir, "documents"), "doc_id", "text")),
    // corpus-unigram LM log-prob quality proxy (KenLM stand-in)
    query("d_unigram_lp", SynthSql2.unigramLogProbSql)((s, dir) =>
      TextOps.unigramLogProb(table(s, dir, "documents"), "doc_id", "text")),
    // deterministic domain-mixture resampling audit (hash-gated, no rand)
    query("d_mixture_sample", SynthSql2.mixtureSampleSql(MixtureRates, MixtureDefaultRate))((s, dir) =>
      TextOps.mixtureSample(table(s, dir, "documents"), "doc_id", "source",
        MixtureRates, MixtureDefaultRate)),
    // fuzzy-dedup survivor selection: MinHash near-dup groups reduced to
    // (group, canonical doc, size) — the keep-list step after grouping
    query("d_fuzzy_survivors",
      s"""SELECT group_id, min(doc_id) AS survivor_id, count(*) AS group_size
         |FROM (${minhash.sql}) g
         |GROUP BY 1""".stripMargin)((s, dir) =>
      Dedup.minhashGroups(table(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 8, shingleSize = 3, threshold = 0.5)
        .groupBy(col("group_id"))
        .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("group_size"))),
    // token-set Jaccard of adjacent doc ids (the n-gram Jaccard op in a
    // SQL-checkable form)
    query("d_jaccard_adj",
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tk
        |  FROM documents)
        |SELECT a.doc_id AS doc_id,
        |       round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
        |             len(list_distinct(list_concat(a.tk, b.tk))), 5) AS jaccard
        |FROM tk a JOIN tk b ON b.doc_id = a.doc_id + 1""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), array_distinct(TextOps.tokens(col("text"))).as("tk"))
      docs.as("a").join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          round(
            size(array_intersect(col("a.tk"), col("b.tk"))).cast("double") /
              size(array_union(col("a.tk"), col("b.tk"))).cast("double"), 5).as("jaccard"))
    }
  )
}
