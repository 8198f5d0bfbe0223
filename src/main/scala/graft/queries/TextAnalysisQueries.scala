package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.operators.{DataSplit, GlobalRank, SequencePacking, Similarity, TextAnalysis, TextDedup}
import graft.multimodal.Multimodal
import Q._

/** Text analysis + retrieval — stats/cleaning/chunking, language ID,
  * fingerprinting, PII redaction, quality scoring, CCNet-style LM
  * scoring, BM25, token budgeting, repetition metrics, and the RAG
  * end-to-end DAG.
  */
object TextAnalysisQueries {

  /** Deterministic "trained" weight vector for the classifier demo:
    * 64 buckets in [-0.5, 0.5]. Every weight is an exact multiple of
    * 1/1024 (a binary fraction), so the token-weight SUM is exact —
    * no rounding in any accumulation order — and the single final
    * division is the only inexact op, performed identically by every
    * engine. (Decimal-looking weights like 0.113 are NOT exact doubles
    * and turned one row in 500 into a cross-engine last-ulp rounding
    * flip at the ROUND(,6) boundary.) */
  val classifierWeights: Seq[Double] =
    (0 until 64).map(i => ((i * 37 + 11) % 1025) / 1024.0 - 0.5)

  val defs: Seq[QueryDef] = Seq(


    // ---- text analysis ----

    QueryDef("q_text_stats", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long")
            .as("n_bpeish"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
    }, Some("""
      SELECT doc_id,
        LENGTH(text) AS n_chars,
        LEN(regexp_extract_all(text, '\S+')) AS n_tokens,
        LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
          AS n_bpeish,
        ROUND((
          (CASE WHEN LEN(regexp_extract_all(text, '\S+')) BETWEEN 10 AND 100000
            THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN (LENGTH(text) - LEN(regexp_extract_all(text, '\S+')) + 1.0)
                  / LEN(regexp_extract_all(text, '\S+')) BETWEEN 2.5 AND 12.0
            THEN 1.0 ELSE 0.0 END) +
          (CASE WHEN CAST(LEN(regexp_extract_all(text, '[^A-Za-z0-9\s]'))
                  AS DOUBLE) / LENGTH(text) <= 0.2
            THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
      FROM documents""")),


    // Canonical text cleanup: NFC + control strip + whitespace collapse.
    // The test corpus is ASCII, so the oracle certifies the control/
    // whitespace pipeline; NFC behavior on combining marks is proven in
    // TextAnalysisSpec. DuckDB replays the identical normalization order.
    QueryDef("q_clean_text", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.cleanText(concat(lit("  "), col("text"),
            lit("\tx\u0007y  "))).as("cleaned"))
        .select(col("doc_id"), length(col("cleaned")).cast("long").as("n"),
          when(length(col("cleaned")) >= 8,
            substring(col("cleaned"), -8, 8))
            .otherwise(col("cleaned")).as("tail8"))
    }, Some("""
      WITH c AS (
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(
            nfc_normalize('  ' || text || chr(9) || 'x' || chr(7) || 'y  '),
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
            '\s+', ' ', 'g')) AS cleaned
        FROM documents)
      SELECT doc_id, LENGTH(cleaned) AS n,
        CASE WHEN LENGTH(cleaned) >= 8
          THEN substr(cleaned, LENGTH(cleaned) - 7, 8) ELSE cleaned END
          AS tail8
      FROM c""")),


    // Overlapping word-window chunking (32-word chunks, stride 24) — the
    // model-sized document slicer. Fully SQL-expressible: the oracle
    // replays split/slice with DuckDB list functions.
    QueryDef("q_chunk", (s, dir) => {
      TextAnalysis.chunkWords(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
    }, Some("""
      WITH w AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS w
        FROM documents)
      SELECT doc_id,
        CAST(s / 24 AS INT) AS chunk_idx,
        array_to_string(w[s + 1:s + 32], ' ') AS chunk_text,
        CAST(len(w[s + 1:s + 32]) AS BIGINT) AS n_tokens
      FROM w, LATERAL unnest(range(0, greatest(len(w), 1), 24)) AS t(s)
      WHERE len(w) > 0""")),


    // RAG-style retrieval pipeline, end-to-end and fully oracled: clean
    // text -> overlapping chunks -> BM25-rank the CHUNKS against a term
    // query -> top-k. Composes three already-oracled operators into the
    // retrieval DAG a RAG corpus build runs; DuckDB replays every stage
    // (chunk ids are doc_id*1000 + chunk_idx — chunk counts are bounded
    // by doc length / stride, far under 1000).
    // Scale shape: the chunker is one scan pass, BM25 adds one stats
    // aggregate + broadcast + TakeOrderedAndProject — no explode-by-term,
    // no per-term shuffle, independent of query length.
    QueryDef("q_rag_e2e", (s, dir) => {
      val cleaned = t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.cleanText(col("text")).as("text"))
      val chunks = TextAnalysis
        .chunkWords(cleaned, "doc_id", "text", chunkSize = 32, stride = 24)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      graft.operators.Relevance.bm25TopK(chunks, "chunk_id", "chunk_text",
        Seq("spark", "hash", "window", "stream"), 50)
    }, Some("""
      WITH cleaned AS (
        SELECT doc_id,
          trim(regexp_replace(regexp_replace(nfc_normalize(text),
            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
            '\s+', ' ', 'g')) AS text
        FROM documents),
      wsplit AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM cleaned),
      chunks AS (
        SELECT doc_id * 1000 + CAST(s / 24 AS INT) AS chunk_id,
          array_to_string(w[s + 1:s + 32], ' ') AS chunk_text
        FROM wsplit, LATERAL unnest(range(0, greatest(len(w), 1), 24))
          AS t(s)
        WHERE len(w) > 0),
      w AS (
        SELECT chunk_id,
          regexp_extract_all(lower(chunk_text), '\S+') AS ws
        FROM chunks),
      tf AS (
        SELECT chunk_id, CAST(len(ws) AS DOUBLE) AS dl,
          CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS tf0,
          CAST(len(list_filter(ws, x -> x = 'hash')) AS DOUBLE) AS tf1,
          CAST(len(list_filter(ws, x -> x = 'window')) AS DOUBLE) AS tf2,
          CAST(len(list_filter(ws, x -> x = 'stream')) AS DOUBLE) AS tf3
        FROM w),
      st AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sum_dl,
          CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
          CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
          CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
          CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
        FROM tf)
      SELECT chunk_id, dl, score FROM (
        SELECT t.chunk_id, t.dl,
          floor(ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf0 * (1.2 + 1.0) / (t.tf0 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          + floor(ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf1 * (1.2 + 1.0) / (t.tf1 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          + floor(ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf2 * (1.2 + 1.0) / (t.tf2 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          + floor(ln((s.n - s.df3 + 0.5) / (s.df3 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf3 * (1.2 + 1.0) / (t.tf3 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          AS score
        FROM tf t, st s)
      WHERE score > 0.0
      ORDER BY score DESC, chunk_id LIMIT 50""")),


    // Language ID (heuristic, engine-specific → rows-only; accuracy is
    // asserted in ScalaTest on real multilingual samples).
    // Language-ID heuristic (stopword-profile arg-max) — the scoring is
    // plain set arithmetic, so DuckDB can replicate it exactly: the
    // oracle recomputes the arg-max with the same tie-break (score desc,
    // then language code desc, matching Spark's greatest-over-structs).
    QueryDef("q_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy(col("labeled"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    }, Some("""
      WITH words AS (
        SELECT doc_id, lang AS labeled,
          regexp_split_to_array(lower(text), '\s+') AS w
        FROM documents),
      scored AS (
        SELECT doc_id, labeled, s.lang,
          CAST(len(list_intersect(w, s.stops)) AS DOUBLE)
            / greatest(len(w), 1) AS score
        FROM words, (VALUES
          ('en', ['the','and','of','to','in','is','that','it','was','for','on','with','as','at','by']),
          ('de', ['der','die','das','und','ist','von','mit','den','nicht','ein','eine','zu','im','für','auf']),
          ('es', ['el','la','de','que','y','en','los','del','se','las','por','un','una','con','para']),
          ('fr', ['le','la','les','de','des','et','est','en','un','une','du','que','pour','dans','qui']),
          ('zh', ['的','是','在','了','和','有','我','不','这','他','也','就','人','都','说'])
        ) AS s(lang, stops)),
      best AS (
        SELECT doc_id, labeled, lang, score,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score DESC, lang DESC) AS rn
        FROM scored)
      SELECT labeled,
        CASE WHEN score > 0 THEN lang ELSE 'und' END AS predicted,
        COUNT(*) AS n
      FROM best WHERE rn = 1
      GROUP BY 1, 2""")),


    // Winnowing fingerprints (Schleimer et al., k=5 w=4). The oracle
    // replays the char-5-gram hashes and takes each length-4 window's
    // SIGNED minimum (the deque compares Java longs), then the distinct
    // sorted set; fp_hash md5-digests the full set per doc.
    QueryDef("q_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.winnowingFingerprint(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).as("n_fp"),
          md5(concat_ws(",",
            transform(col("fp"), x => x.cast("string")))).as("fp_hash"))
    }, Some(s"""
      WITH cs AS (SELECT doc_id, length(text) AS L,
          list_transform(generate_series(1, length(text)),
            i -> CAST(unicode(text[i]) AS UBIGINT)) AS codes
        FROM documents),
      g0 AS (SELECT doc_id,
          CASE WHEN L >= 5 THEN
            list_transform(generate_series(1, L - 4), i ->
              ${DuckHash.fnv("codes[i:i+4]")})
          ELSE [${DuckHash.fnv("codes")}] END AS z FROM cs),
      ${DuckHash.mixStages("g0")},
      gh AS (SELECT doc_id,
          list_transform(z, x -> ${DuckHash.toSigned("xor(x, x >> 31)")})
            AS gs FROM m3),
      sel AS (SELECT doc_id, list_sort(list_distinct(
            CASE WHEN len(gs) >= 4 THEN
              list_transform(generate_series(4, len(gs)), i ->
                list_min(gs[i-3:i]))
            ELSE [list_min(gs)] END)) AS fp
        FROM gh)
      SELECT doc_id, CAST(len(fp) AS INTEGER) AS n_fp,
        md5(array_to_string(fp, ',')) AS fp_hash
      FROM sel""")),


    // PII scrubbing: deterministic synthetic PII appended per doc, then
    // redacted; the oracle replays the same regexes (RE2-safe) and the
    // md5 of the full redacted text proves byte-identical output.
    QueryDef("q_pii_redact", (s, dir) => {
      val withPii = t(s, dir, "documents").withColumn("__aug",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com at 10.0."), col("doc_id") % 256,
          lit(".7 or +1555"), (col("doc_id") % 10000) + 10000))
      withPii.select(col("doc_id"),
        md5(TextAnalysis.redactPii(col("__aug"))).as("redacted_md5"),
        (length(col("__aug")) - length(TextAnalysis.redactPii(col("__aug"))))
          .cast("long").as("chars_removed"))
    }, Some("""
      WITH aug AS (
        SELECT doc_id,
          text || ' contact user' || doc_id::VARCHAR ||
            '@example.com at 10.0.' || (doc_id % 256)::VARCHAR ||
            '.7 or +1555' || ((doc_id % 10000) + 10000)::VARCHAR AS a
        FROM documents),
      red AS (
        SELECT doc_id, a,
          regexp_replace(regexp_replace(regexp_replace(a,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\+\d{7,15}\b', '<PHONE>', 'g') AS r
        FROM aug)
      SELECT doc_id, md5(r) AS redacted_md5,
        length(a) - length(r) AS chars_removed
      FROM red""")),


    // Hashing-trick linear classifier scoring (fastText-style quality
    // model evaluation): deterministic weight vector, portable md5
    // feature hash — the oracle rescoring in DuckDB proves the whole
    // feature-hash + weight-lookup + mean pipeline engine-exact.
    QueryDef("q_quality_classifier", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.hashingTrickScore(col("text"),
            classifierWeights), 6).as("score"))
    }, Some(s"""
      SELECT doc_id,
        ROUND(list_sum(list_transform(regexp_extract_all(text, '\\S+'),
            t -> ([${classifierWeights.mkString(",")}])
              [CAST(('0x' || substr(md5(t || 'feat'), 1, 8))::BIGINT
                 % ${classifierWeights.size} AS INT) + 1]))
          / len(regexp_extract_all(text, '\\S+')), 6) AS score
      FROM documents""")),


    // CCNet-style LM quality score (Wenzek et al. 2020, public): mean
    // log-prob of each document under an add-one-smoothed word-bigram
    // model trained on the lang='en' slice — the "perplexity filter"
    // stage of corpus curation. Quantized logp (k/1024) makes the SUM
    // exact; the DuckDB oracle retrains the identical model and rescores
    // every document.
    QueryDef("q_lm_score", (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Relevance.lmScore(
        docs, "doc_id", "text", docs.filter(col("lang") === "en"), "text")
    }, Some("""
      WITH tw AS (
        SELECT regexp_extract_all(lower(text), '\S+') AS ws
        FROM documents WHERE lang = 'en'),
      tbi AS (
        SELECT
          unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
            i -> ws[i])) AS w1,
          unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
            i -> ws[i+1])) AS w2
        FROM tw),
      big AS (SELECT w1, w2, COUNT(*) AS c12 FROM tbi GROUP BY 1, 2),
      ctx AS (SELECT w1, COUNT(*) AS c1 FROM tbi GROUP BY 1),
      voc AS (
        SELECT COUNT(DISTINCT word) AS v
        FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
              FROM documents WHERE lang = 'en')),
      dw AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
        FROM documents),
      dbi AS (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
            i -> ws[i])) AS w1,
          unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
            i -> ws[i+1])) AS w2
        FROM dw),
      sc AS (
        SELECT d.doc_id,
          SUM(floor(ln(CAST(COALESCE(b.c12, 0) + 1 AS DOUBLE)
            / CAST(COALESCE(c.c1, 0) + v.v AS DOUBLE)) * 1024) / 1024.0)
            AS sum_lp,
          COUNT(*) AS n_bi
        FROM dbi d
        CROSS JOIN voc v
        LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
        LEFT JOIN ctx c ON d.w1 = c.w1
        GROUP BY d.doc_id)
      SELECT d.doc_id, COALESCE(s.n_bi, 0) AS n_bigrams,
        COALESCE(s.sum_lp / s.n_bi, 0.0) AS lm_score
      FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id""")),


    // BM25 relevance ranking (Robertson & Spärck Jones, public): top-50
    // documents for a literal term set. Zero explode, zero per-term
    // shuffle — tf is a pure projection, corpus stats are observed by the
    // checkpoint job, top-k is TakeOrderedAndProject. The oracle
    // recomputes the identical expression tree (same literals, same
    // parenthesization, idf floor-quantized) in DuckDB.
    QueryDef("q_bm25", (s, dir) => {
      graft.operators.Relevance.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "hash", "window", "stream"), 50)
    }, Some("""
      WITH w AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws
        FROM documents),
      tf AS (
        SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
          CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS tf0,
          CAST(len(list_filter(ws, x -> x = 'hash')) AS DOUBLE) AS tf1,
          CAST(len(list_filter(ws, x -> x = 'window')) AS DOUBLE) AS tf2,
          CAST(len(list_filter(ws, x -> x = 'stream')) AS DOUBLE) AS tf3
        FROM w),
      st AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sum_dl,
          CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
          CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
          CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
          CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
        FROM tf)
      SELECT doc_id, dl, score FROM (
        SELECT t.doc_id, t.dl,
          floor(ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf0 * (1.2 + 1.0) / (t.tf0 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          + floor(ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf1 * (1.2 + 1.0) / (t.tf1 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          + floor(ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf2 * (1.2 + 1.0) / (t.tf2 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          + floor(ln((s.n - s.df3 + 0.5) / (s.df3 + 0.5) + 1.0) * 1024) / 1024.0
            * (t.tf3 * (1.2 + 1.0) / (t.tf3 + 1.2 *
                (1.0 - 0.75 + 0.75 * (t.dl / (s.sum_dl / s.n)))))
          AS score
        FROM tf t, st s)
      WHERE score > 0.0
      ORDER BY score DESC, doc_id LIMIT 50""")),


    // Token-budget mixture planning: per-domain token totals → basis-
    // point sampling rates (min(1, budget*weight/tokens)) → hash-keyed
    // keep decision. The oracle replays the WHOLE pipeline — totals,
    // rate formula (floor to int bp, exact same fp op order), md5
    // membership — so the end-to-end plan is engine-portable.
    QueryDef("q_token_budget", (s, dir) => {
      DataSplit.tokenBudgetSample(t(s, dir, "documents"), "doc_id",
          "source", "n_chars", budget = 5000L,
          weights = Map("src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0))
        .select(col("doc_id"), col("source"))
    }, Some("""
      WITH tot AS (
        SELECT source, SUM(n_chars) AS tok FROM documents GROUP BY source),
      rates AS (
        SELECT source,
          CAST(FLOOR(LEAST(10000.0,
            (5000 * (CASE source WHEN 'src1' THEN 2.0
                                 WHEN 'src2' THEN 1.0
                                 WHEN 'src3' THEN 1.0 END / 4.0))
              / tok * 10000.0)) AS INT) AS bp
        FROM tot
        WHERE source IN ('src1', 'src2', 'src3') AND tok > 0)
      SELECT d.doc_id, d.source
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'budget'), 1, 8))::BIGINT
              % 10000 < r.bp""")),


    // Gopher-style repetition filter: duplicate word-n-gram fractions.
    QueryDef("q_repetition", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.dupNgramFraction(col("text"), 2), 6)
            .as("dup2"),
          round(TextAnalysis.dupNgramFraction(col("text"), 3), 6)
            .as("dup3"))
        .filter(col("dup2") > 0.2)
    }, Some("""
      WITH g AS (
        SELECT doc_id,
          list_transform(
            generate_series(1, greatest(len(string_split(text,' ')) - 1, 1)),
            i -> array_to_string(string_split(text,' ')[i:i+1], ' ')) AS g2,
          list_transform(
            generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
            i -> array_to_string(string_split(text,' ')[i:i+2], ' ')) AS g3
        FROM documents)
      SELECT doc_id,
        ROUND(1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
          AS dup2,
        ROUND(1 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
          AS dup3
      FROM g
      WHERE ROUND(1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
              > 0.2"""))
  )
}
