package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.{Fixture, Tables}
import graft.functions.{Exact, Text}
import graft.operators.{Bpe, Classifier, Dedup, Retrieval, TextAnalysis, UnigramLm}

import Shared._

/** Text-analysis gates (`qt`): language id, quality signals and the
  * trained quality classifier, tokenization, fingerprints, PII
  * redaction, BM25 and RM3 retrieval scoring, novelty, and the BPE and
  * unigram-LM tokenizers (train, encode, stream-encode). Learned or
  * non-SQL-expressible parts are locked by invariant flags the oracle
  * knows must all be 1 (the qt18 pattern) plus ScalaTest specs.
  */
object TextGates {

  private val langs = Text.Stopwords.map(_._1)

  /** qt27/qt28's trained quality classifier per sf dir, persisted once
    * per JVM through the Models registry (train = 4 Newton passes, the
    * expensive part; both gates then score from the SAME artifact —
    * which is also the deploy shape: one training run, many serving
    * consumers).
    */
  private def clsModelPath(s: SparkSession, dir: String): String =
    Fixture.once("qt27_classifier", dir) {
      val out = Fixture.dir("graft_qt27_cls")
      val docs = Tables(s, dir, "documents")
      val teacher = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"),
          (col("quality_bucket") === "high").cast("long").as("y"))
      val feats = Classifier
        .featurizeText(docs, "doc_id", "text", dims = 16)
        .join(teacher, "doc_id")
        .filter(col("doc_id") % 5 =!= 4)
        .localCheckpoint()
      val model = Classifier.trainLogisticNewton(feats, "x", "y", iters = 4)
      graft.operators.Models.saveLinear(s, model, s"$out/lin")
      s"$out/lin"
    }

  /** Shared qt27/qt28 teacher + verdict rollup: held-out predictions
    * (doc_id, pred) → the 3 (segment, n, ok) rows under the measured
    * floors (BASELINE.md round 15).
    */
  private def clsVerdict(s: SparkSession, dir: String,
                         preds: DataFrame): DataFrame = {
    val teacher = TextAnalysis
      .qualityScore(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"),
        (col("quality_bucket") === "high").cast("long").as("y"))
    val held = preds.join(teacher, "doc_id")
    val correct = (col("pred") === col("y")).cast("double")
    val byClass = held
      .groupBy(concat(lit("class"), col("y").cast("string")).as("segment"))
      .agg(count(lit(1)).as("n"), avg(correct).as("acc"))
    val global = held
      .agg(count(lit(1)).as("n"), avg(correct).as("acc"))
      .select(lit("global").as("segment"), col("n"), col("acc"))
    byClass.unionByName(global).select(col("segment"), col("n"),
      when(col("segment") === "class0", col("acc") >= 0.80)
        .when(col("segment") === "class1", col("acc") >= 0.88)
        .otherwise(col("acc") >= 0.85).cast("long").as("ok"))
  }

  private val clsOracleSql =
    s"""WITH w AS (SELECT doc_id, text, ${Text.wordsSql("text")} AS ws FROM documents),
       |lab AS (SELECT doc_id,
       |  CASE WHEN CAST(len(ws) AS BIGINT) >= 40
       |        AND CAST(len(list_distinct(ws)) AS BIGINT) * 1.0
       |            / CAST(len(ws) AS BIGINT) >= 0.35
       |       THEN 1 ELSE 0 END AS y
       |  FROM w WHERE doc_id % 5 = 4)
       |SELECT 'class' || CAST(y AS VARCHAR) AS segment,
       |  count(*) AS n, CAST(1 AS BIGINT) AS ok
       |FROM lab GROUP BY 1
       |UNION ALL
       |SELECT 'global', count(*), CAST(1 AS BIGINT) FROM lab""".stripMargin

  private val Bm25Terms = Seq("vector", "stream", "window", "spark")

  private val bm25OracleSql =
    s"""WITH $bm25Prelude,
       |tfq AS (SELECT * FROM tf
       |        WHERE word IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})),
       |tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df FROM tfq),
       |sc AS (SELECT did, $bm25ScoreSql AS score FROM tfd, s),
       |agg AS (SELECT did, ${Exact.dsumSql("score")} AS bm25
       |        FROM sc GROUP BY did)
       |SELECT did AS doc_id, bm25, rnk FROM (
       |  SELECT did, bm25,
       |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, did) AS rnk FROM agg)
       |WHERE rnk <= 10""".stripMargin

  /** qt22's oracle body — shared verbatim by qt24 (the incrementally-
    * maintained serve path must be bit-identical to the corpus scan).
    */
  private val noveltyOracleSql =
    s"""WITH w AS ($wCte),
       |$noveltyCtes
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
       |  CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
       |  $noveltyRateSql AS novelty
       |FROM documents d
       |LEFT JOIN nsh USING (doc_id) LEFT JOIN nvl USING (doc_id)""".stripMargin

  /** qt31's oracle: the full RM3 replay — first-pass arm (lexArmSql at
    * kArm = fbDocs), expansion term mining (total tf over the feedback
    * docs, query terms anti-joined away, top-fbTerms by (tf desc,
    * word)), then the weighted rescore with weights as ROW
    * MULTIPLICITY (qw unions in twice — matching the operator, so the
    * score stays a pure decimal sum in both engines).
    */
  private def rm3OracleSql(fbDocs: Int, fbTerms: Int, k: Int) =
    s"""WITH $bm25Prelude,
       |${lexArmSql(fbDocs)},
       |ftf AS (SELECT fb.qid, tf.word, SUM(tf.tf) AS ftf
       |        FROM (SELECT qid, did FROM lt) fb
       |        JOIN tf USING (did)
       |        LEFT JOIN qw q2 ON q2.qid = fb.qid AND q2.word = tf.word
       |        WHERE q2.word IS NULL
       |        GROUP BY fb.qid, tf.word),
       |expq AS (SELECT qid, word FROM (
       |          SELECT qid, word, ROW_NUMBER() OVER (PARTITION BY qid
       |            ORDER BY ftf DESC, word) AS re FROM ftf)
       |         WHERE re <= $fbTerms),
       |terms AS (SELECT qid, word FROM qw UNION ALL
       |          SELECT qid, word FROM qw UNION ALL
       |          SELECT qid, word FROM expq),
       |tv AS (SELECT DISTINCT word FROM terms),
       |tf2 AS (SELECT tf.* FROM tf JOIN tv USING (word)),
       |tfd2 AS (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df FROM tf2),
       |sc2 AS (SELECT t.qid, tfd2.did, $bm25ScoreSql AS score
       |        FROM tfd2 JOIN terms t USING (word), s
       |        WHERE tfd2.did <> t.qid),
       |rm AS (SELECT qid, did, ${Exact.dsumSql("score")} AS rm3
       |       FROM sc2 GROUP BY qid, did),
       |rmr AS (SELECT qid, did, rm3, ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY rm3 DESC, did) AS rr FROM rm)
       |SELECT qid, did, rm3, CAST(rr AS BIGINT) AS rr
       |FROM rmr WHERE rr <= $k""".stripMargin

  val all: Seq[Q] = Seq(

    // ----- language ID (stopword heuristic) -----------------------------
    Q("qt01_langid", {
      val scoreCols = langs
        .map(l => s"  ${Text.stopwordCountSql("ws", l)} AS score_$l").mkString(",\n")
      val caseChain = langs.map { l =>
        val cond = langs.filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString("\n    ")
      s"""WITH w AS ($wCte),
         |s AS (SELECT doc_id,\n$scoreCols\nFROM w)
         |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
         |  CASE $caseChain ELSE '${langs.last}' END AS predicted_lang
         |FROM s""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.languageId(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- HTML boilerplate stripping ------------------------------------
    // Crawl-HTML -> training-text extraction: the documents corpus is
    // wrapped in deterministic markup (tags, attributes, entities) and
    // stripHtml must recover the text — tags dropped, the five core
    // entities decoded (&amp; last), whitespace squeezed — plus a
    // removed-tag audit count. Purely regular (identical semantics in
    // both regex engines), so the gate hash-compares exactly.
    Q("qt26_html_strip", {
      val html = "'<html><head><title>d</title></head>" +
        "<body><div class=\"m\"><p>' || text || " +
        "'</p><br/>&amp; &lt;raw&gt; &quot;q&quot; &#39;s&#39;" +
        "</div></body></html>'"
      s"""SELECT doc_id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(
         |      regexp_replace($html, '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', ''''), '&amp;', '&'),
         |    '[ \t\n\r]+', ' ', 'g')) AS text,
         |  CAST(len(regexp_extract_all($html, '<[^>]*>')) AS BIGINT)
         |    AS n_tags
         |FROM documents""".stripMargin
    }) { (s, dir) =>
      val html = concat(
        lit("<html><head><title>d</title></head><body><div class=\"m\"><p>"),
        col("text"),
        lit("</p><br/>&amp; &lt;raw&gt; &quot;q&quot; &#39;s&#39;" +
          "</div></body></html>"))
      TextAnalysis.stripHtml(
        Tables(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "doc_id", "html")
    },

    // ----- quality scoring ----------------------------------------------
    Q("qt02_quality",
      s"""WITH w AS ($wCte),
         |m AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
         |  CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / CAST(len(ws) AS BIGINT) AS avg_word_len,
         |  ${Text.stopwordCountSql("ws", "en")} * 1.0 / CAST(len(ws) AS BIGINT) AS stopword_ratio,
         |  CAST(len(list_distinct(ws)) AS BIGINT) * 1.0 / CAST(len(ws) AS BIGINT) AS distinct_ratio
         |FROM w)
         |SELECT doc_id, n_chars, n_words, n_distinct_words, avg_word_len,
         |  stopword_ratio, distinct_ratio,
         |  CASE WHEN n_words >= 40 AND distinct_ratio >= 0.35 THEN 'high'
         |       WHEN n_words >= 20 THEN 'medium'
         |       ELSE 'low' END AS quality_bucket
         |FROM m""".stripMargin) { (s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- trained quality classifier -------------------------------------
    // The LEARNED counterpart of qt02: distill the heuristic teacher
    // rule into a hashed-feature logistic model (Newton/IRLS, 4 full
    // passes, decimal-exact gradient/Hessian sums so training is
    // bit-reproducible across partitionings). Held-out = doc_id%5==4.
    // The exact arm of the gate is the SPLIT ITSELF (per-class held-out
    // counts, teacher labels recomputed by the oracle); the verdict arm
    // is accuracy floors set below the measured minima across
    // sf0.001/0.01/0.1/1 (tools.ClassifierTune at commit 048ff63:
    // global 0.900+, class0 0.858+, class1 0.932+ → floors
    // 0.85/0.80/0.88) — deterministic, so any
    // training/featurization regression breaks the hash.
    Q("qt27_quality_classifier", clsOracleSql) { (s, dir) =>
      val model = graft.operators.Models.loadLinear(s, clsModelPath(s, dir))
      val held = Classifier.featurizeText(
        Tables(s, dir, "documents").filter(col("doc_id") % 5 === 4),
        "doc_id", "text", dims = 16)
      clsVerdict(s, dir, Classifier.predict(held, model, "doc_id"))
    },

    // ----- streaming model serving ----------------------------------------
    // The deploy shape of qt27: the SAME persisted artifact scores the
    // held-out corpus arriving as two micro-batches
    // (streaming.ScoreIngest, per-batch overwrite idempotency), and the
    // served scores roll up to the IDENTICAL verdict rows — oracle text
    // shared with qt27 verbatim. Stream-vs-batch bit-identity of the
    // scores themselves is ScoreIngestSpec's lock.
    Q("qt28_stream_scored", clsOracleSql) { (s, dir) =>
      val mp = clsModelPath(s, dir)
      // the returned frame reads `out` lazily, so it lives until exit
      val out = Fixture.dir("graft_qt28_scores")
      val held = Tables(s, dir, "documents")
        .filter(col("doc_id") % 5 === 4).select("doc_id", "text")
      graft.streaming.ScoreIngest.applyBatch(s,
        held.filter(col("doc_id") % 10 === 4), "doc_id", "text",
        mp, out, 0L)
      graft.streaming.ScoreIngest.applyBatch(s,
        held.filter(col("doc_id") % 10 === 9), "doc_id", "text",
        mp, out, 1L)
      clsVerdict(s, dir,
        graft.streaming.ScoreIngest.serve(s, out).select("doc_id", "pred"))
    },

    // ----- token counting -----------------------------------------------
    Q("qt03_tokens",
      s"""WITH w AS ($wCte)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS ws_tokens,
         |  CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4)) AS BIGINT) AS bpe_tokens
         |FROM w""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenCounts(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- document fingerprinting ---------------------------------------
    Q("qt04_fingerprint",
      s"""WITH w AS ($wCte), sh AS ($shCte),
         |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |m AS (SELECT doc_id, min(${Text.polyhashSql("sh")}) AS min_shingle_hash
         |      FROM e GROUP BY doc_id)
         |SELECT w.doc_id, ${Text.polyhashSql("text")} AS fingerprint, m.min_shingle_hash
         |FROM w JOIN m USING (doc_id)""".stripMargin) { (s, dir) =>
      TextAnalysis.fingerprint(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- winnowing fingerprints (k-gram window minima) -----------------
    Q("qt05_winnow",
      s"""WITH p AS (
         |  SELECT doc_id, text,
         |    unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS pos
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, pos,
         |    ${Text.polyhashSql("substring(text, CAST(pos AS INTEGER), 5)")} AS h
         |  FROM p)
         |SELECT DISTINCT doc_id,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |FROM g""".stripMargin) { (s, dir) =>
      TextAnalysis.winnow(Tables(s, dir, "documents"), "doc_id", "text", k = 5, w = 4)
    },

    // ----- TF-IDF-style top terms (log-free, exactly reproducible) -------
    Q("qt06_top_terms",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS word FROM w),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wd GROUP BY doc_id, word),
         |dfreq AS (SELECT word, COUNT(*) AS df
         |          FROM (SELECT DISTINCT doc_id, word FROM wd) GROUP BY word),
         |scored AS (
         |  SELECT doc_id, tf.word, tf, df,
         |    CAST(tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / df AS score
         |  FROM tf JOIN dfreq ON tf.word = dfreq.word)
         |SELECT doc_id, word, tf, df, score, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, word) AS rnk FROM scored)
         |WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      TextAnalysis.topTerms(Tables(s, dir, "documents"), "doc_id", "text", k = 3)
    },

    // ----- canonical text normalization ----------------------------------
    Q("qt08_normalize",
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '',
        |    'g'), ' +', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin) { (s, dir) =>
      TextAnalysis.normalize(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- repetition profile (duplicate-bigram quality signal) ----------
    Q("qt07_repetition",
      s"""WITH w AS ($wCte),
         |g AS (SELECT doc_id, UNNEST(${Text.ngramsSql("ws", 2)}) AS gram
         |      FROM w),
         |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g
         |      GROUP BY doc_id, gram)
         |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(MAX(cnt) AS BIGINT) AS top_count
         |FROM c GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetition(Tables(s, dir, "documents"), "doc_id", "text",
        n = 2)
    },

    // ----- OOV rate vs a corpus-derived top-1000 vocabulary --------------
    Q("qt09_oov_rate",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd FROM w),
         |vc AS (SELECT wrd FROM (SELECT wrd, COUNT(*) AS cnt FROM wd
         |       GROUP BY wrd ORDER BY cnt DESC, wrd LIMIT 1000)),
         |j AS (SELECT wd.doc_id,
         |        CASE WHEN vc.wrd IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM wd LEFT JOIN vc ON wd.wrd = vc.wrd)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  SUM(oov) * 1.0 / COUNT(*) AS oov_rate
         |FROM j GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.oovRate(Tables(s, dir, "documents"), "doc_id", "text",
        vocabSize = 1000)
    },

    // ----- feature hashing (the hashing trick) ---------------------------
    Q("qt13_feature_hashing",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd FROM w)
         |SELECT doc_id, ${Text.polyhashSql("wrd")} % 64 AS bucket,
         |  COUNT(*) AS cnt
         |FROM wd GROUP BY doc_id, bucket""".stripMargin) { (s, dir) =>
      TextAnalysis.featureHash(Tables(s, dir, "documents"), "doc_id", "text",
        dims = 64)
    },

    // ----- statistical-LM fluency score ----------------------------------
    // Corpus-trained bigram model, per-doc mean conditional probability
    // in parts-per-billion — the perplexity-style quality filter with
    // every term an exact integer floor division (the qt12 log-free
    // discipline: ln()'s last ulp is libm-specific, integer ratios are
    // not), so the score hash-gates across engines.
    Q("qt14_lm_score",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd,
         |       generate_subscripts(ws, 1) AS pos FROM w),
         |bi AS (SELECT l.doc_id, l.wrd AS a, r.wrd AS b FROM wd l JOIN wd r
         |       ON l.doc_id = r.doc_id AND r.pos = l.pos + 1),
         |db AS (SELECT doc_id, a, b, COUNT(*) AS k FROM bi GROUP BY doc_id, a, b),
         |cab AS (SELECT a, b, SUM(k) AS c_ab FROM db GROUP BY a, b),
         |ca AS (SELECT a, SUM(k) AS c_a FROM db GROUP BY a)
         |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(k * ((c_ab * 1000000000) // c_a)) AS DOUBLE) / SUM(k) AS lm_score
         |FROM db JOIN cab USING (a, b) JOIN ca USING (a)
         |GROUP BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.lmScore(Tables(s, dir, "documents"), "doc_id", "text")
    },

    // ----- TextRank keyword extraction -----------------------------------
    // PageRank over the word-adjacency graph in fixed-point integer
    // arithmetic — the oracle unrolls the same 5 damped iterations as
    // chained CTEs (the qp03 lloyd-iteration precedent), so the gate
    // proves an ITERATIVE graph fixpoint end-to-end, not one step.
    Q("qt15_textrank", {
      val iterCtes = (1 to 5).map { i =>
        s"n$i AS (SELECT ed.b AS w, CAST(150000000 + " +
          s"SUM((p.pr * 85) // (100 * ed.d)) AS BIGINT) AS pr " +
          s"FROM ed JOIN n${i - 1} p ON ed.a = p.w GROUP BY ed.b)"
      }.mkString(",\n")
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd,
         |       generate_subscripts(ws, 1) AS pos FROM w),
         |bi AS (SELECT l.wrd AS a, r.wrd AS b FROM wd l JOIN wd r
         |       ON l.doc_id = r.doc_id AND r.pos = l.pos + 1
         |       AND l.wrd != r.wrd),
         |bc AS (SELECT a, b FROM bi GROUP BY a, b HAVING COUNT(*) >= 3),
         |e AS (SELECT a, b FROM bc UNION SELECT b, a FROM bc),
         |deg AS (SELECT a, COUNT(*) AS d FROM e GROUP BY a),
         |ed AS (SELECT e.a, e.b, deg.d FROM e JOIN deg ON e.a = deg.a),
         |n0 AS (SELECT a AS w, CAST(1000000000 AS BIGINT) AS pr FROM deg),
         |$iterCtes
         |SELECT w, pr FROM n5 ORDER BY pr DESC, w LIMIT 50""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.textRank(Tables(s, dir, "documents"), "doc_id", "text",
        minCount = 3, iters = 5, k = 50)
    },

    // ----- BPE tokenizer training: the pair-count aggregate --------------
    // The inner loop of distributed BPE training: adjacent symbol
    // pairs over the DISTINCT-WORD table, weighted by corpus word
    // frequency. This is the per-iteration aggregate the trainer
    // argmaxes; the full k-merge loop and encode are spec-verified
    // (BpeSpec) since the learned table is data-dependent and the
    // oracle SQL is a static string.
    Q("qt16_bpe_pairs",
      s"""WITH w AS ($wCte),
         |u AS (SELECT unnest(ws) AS word FROM w),
         |f AS (SELECT word, count(*) AS freq FROM u GROUP BY word),
         |c AS (SELECT freq, string_split(word, '') AS cs FROM f),
         |p AS (SELECT freq, cs, unnest(range(1, len(cs))) AS i FROM c
         |      WHERE len(cs) >= 2)
         |SELECT cs[i] AS a, cs[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM p GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Bpe.pairCounts(Bpe.initSymbols(
        Bpe.wordFreqs(Tables(s, dir, "documents"), "text")))
    },

    // ----- collocation mining (log-free lift) ----------------------------
    Q("qt12_collocations",
      s"""WITH w AS ($wCte),
         |wd AS (SELECT doc_id, unnest(ws) AS wrd,
         |       generate_subscripts(ws, 1) AS pos FROM w),
         |bi AS (SELECT l.wrd AS a, r.wrd AS b FROM wd l JOIN wd r
         |       ON l.doc_id = r.doc_id AND r.pos = l.pos + 1),
         |uni AS (SELECT wrd, COUNT(*) AS c FROM wd GROUP BY wrd),
         |tot AS (SELECT COUNT(*) AS n FROM wd),
         |p AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY a, b
         |      HAVING COUNT(*) >= 5)
         |SELECT a, b, c_ab,
         |  CAST(c_ab * n AS DOUBLE) / (ca.c * cb.c) AS lift
         |FROM p JOIN uni ca ON p.a = ca.wrd
         |       JOIN uni cb ON p.b = cb.wrd, tot
         |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin) { (s, dir) =>
      TextAnalysis.collocations(Tables(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 20)
    },

    // ----- PII redaction -------------------------------------------------
    // The synthetic corpus contains no PII, so BOTH engines append the
    // same deterministic doc_id-derived email/IP/number tail before
    // redacting — the gate then proves the redaction regexes (the
    // Java∩RE2 subset) rewrite and count identically cross-engine on
    // text where every pattern actually fires.
    Q("qt11_pii_redact",
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR) ||
         |  '.0.7 ref ' || CAST(900000000 + doc_id * 7 AS VARCHAR) AS t
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
         |    '${TextAnalysis.LongNumRe}', '<NUM>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.LongNumRe}')) AS BIGINT) AS n_numbers
         |FROM p""".stripMargin) { (s, dir) =>
      val withPii = Tables(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@mail.example.com from 10."),
          pmod(col("doc_id"), lit(200)).cast("string"),
          lit(".0.7 ref "),
          (col("doc_id") * 7 + 900000000L).cast("string")).as("text"))
      TextAnalysis.redactPii(withPii, "doc_id", "text")
    },

    // ----- Unicode canonical text keys (NFC + accent fold) ---------------
    // Web text arrives precomposed (é = U+00E9), decomposed
    // (e + U+0301), and accent-varied — three byte sequences, one
    // visible string, which breaks every hash/join/dedup key upstream.
    // The gate decorates each document with a deterministic accented
    // phrase (cycling by doc_id, INCLUDING a decomposed variant that
    // must collapse onto its precomposed twin) and folds through the
    // custom codegen'd NFC expression + the shared translate table —
    // both engines compute the fold from the same constants
    // (TextAnalysis.FoldFrom/FoldTo/FoldExpansions), so the bytes must
    // match exactly. Row-local, no shuffle.
    Q("qt17_accent_fold",
      s"""WITH p AS (SELECT doc_id,
         |  CASE CAST(doc_id % 7 AS INTEGER)
         |    WHEN 0 THEN 'Café crème'
         |    WHEN 1 THEN 'Café crème'
         |    WHEN 2 THEN 'Straße'
         |    WHEN 3 THEN 'Æsop œuvre'
         |    WHEN 4 THEN 'naïve piñata søster'
         |    WHEN 5 THEN 'ÀÉÎÕÜ'
         |    ELSE 'plain ascii' END || ' ' || text AS t
         |  FROM documents)
         |SELECT doc_id, ${TextAnalysis.foldedKeySql("t")} AS folded
         |FROM p""".stripMargin) { (s, dir) =>
      val variants = Seq("Café crème", "Café crème",
        "Straße", "Æsop œuvre",
        "naïve piñata søster",
        "ÀÉÎÕÜ", "plain ascii")
      val decorated = Tables(s, dir, "documents").select(col("doc_id"),
        concat(
          element_at(array(variants.map(lit): _*),
            pmod(col("doc_id"), lit(7)).cast("int") + 1),
          lit(" "), col("text")).as("t"))
      decorated.select(col("doc_id"),
        TextAnalysis.foldedKey(col("t")).as("folded"))
    },

    // ----- sentence segmentation stats ----------------------------------
    // The sentence-level half of the text battery (qt02 is word/char
    // level): terminator-split sentences with blank fragments dropped
    // on BOTH engines (DuckDB keeps the trailing empty after 'a.b.',
    // Spark's limit=-1 split does too — the filter makes the fragment
    // lists identical), then per-doc counts, exact char sums, longest
    // sentence, and the lead sentence's length. Row-local, one
    // codegen'd projection; the mean sentence length rides as the
    // integer pair (sum_sent_chars, n_sentences), never divided.
    Q("qt19_sentences",
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[.!?]+'),
        |                x -> length(trim(x)) > 0) AS sents
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(sents) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_sum(list_transform(sents,
        |    x -> length(trim(x)))), 0) AS BIGINT) AS sum_sent_chars,
        |  CAST(COALESCE(list_max(list_transform(sents,
        |    x -> length(trim(x)))), 0) AS BIGINT) AS max_sent_chars,
        |  CAST(CASE WHEN len(sents) > 0 THEN length(trim(sents[1]))
        |    ELSE 0 END AS BIGINT) AS lead_sent_chars
        |FROM s""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("sents",
          expr("filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0)"))
        .select(
          col("doc_id"),
          size(col("sents")).cast(LongType).as("n_sentences"),
          expr("""coalesce(aggregate(transform(sents,
                 |  x -> CAST(length(trim(x)) AS BIGINT)),
                 |  CAST(0 AS BIGINT), (a, x) -> a + x), 0L)""".stripMargin)
            .as("sum_sent_chars"),
          expr("coalesce(array_max(transform(sents, x -> CAST(length(trim(x)) AS BIGINT))), 0L)")
            .as("max_sent_chars"),
          expr("""CASE WHEN size(sents) > 0
                 |  THEN CAST(length(trim(element_at(sents, 1))) AS BIGINT)
                 |  ELSE 0L END""".stripMargin).as("lead_sent_chars"))
    },

    // ----- BM25 lexical retrieval (log-free idf, exact) ------------------
    Q("qt20_bm25", bm25OracleSql) { (s, dir) =>
      Retrieval.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 10)
    },

    // ----- BM25 served from the incrementally-maintained index -----------
    // SAME oracle text as qt20, deliberately: the gate proves the
    // index path (postings dirs + merged vocab/stats,
    // streaming.IndexIngest) reproduces the corpus-scan path bit for
    // bit after a multi-batch build — the serving side of the
    // streaming ingest, under the strict hash gate rather than
    // spec-only equality.
    Q("qt21_bm25_indexed", bm25OracleSql) { (s, dir) =>
      // built once (two disjoint doc_id-parity batches), served many
      // times
      val path = Fixture.once("qt21_index", dir) {
        val out = Fixture.dir("graft_qt21_idx")
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        graft.streaming.IndexIngest.applyBatch(
          s, docs.filter(col("doc_id") % 2 === 0), out, 0L)
        graft.streaming.IndexIngest.applyBatch(
          s, docs.filter(col("doc_id") % 2 === 1), out, 1L)
        out
      }
      graft.streaming.IndexIngest.bm25(s, path, Bm25Terms, k = 10)
    },

    // ----- RM3 pseudo-relevance-feedback expansion ------------------------
    // The classic fix for vocabulary mismatch: queries whose literal
    // terms miss relevant documents recover them through terms mined
    // from the first-pass top-5. The oracle replays ALL of it — arm,
    // mining, anti-join, weighted rescore — so the gate is an exact
    // hash compare, not an invariant check; weights ride as row
    // multiplicity to keep the score a pure decimal sum cross-engine.
    Q("qt31_rm3_expansion", rm3OracleSql(fbDocs = 5, fbTerms = 3, k = 10)) {
      (s, dir) =>
        // first pass = the memoized shared arm (qs17/qs19/qs20's),
        // truncated to fbDocs by the rank-prefix property — the gate
        // times the expansion + rescore, not a third rebuild of the
        // identical arm (the r13 memoization discipline)
        Retrieval.rm3ExpandedTopK(Tables(s, dir, "documents"),
          "doc_id", "text", queryDocsOf(s, dir),
          fbDocs = 5, fbTerms = 3, k = 10,
          firstPass = Some(lexArm20(s, dir)))
    },

    // ----- BPE encode round-trip (train qt16 → encode → detokenize) ------
    // The learned merge table is data-dependent (not expressible as a
    // static oracle), so the gate checks the INVARIANTS every correct
    // encoder satisfies, per document: concatenating the emitted tokens
    // reproduces the concatenated words exactly (lossless segmentation),
    // and the token count sits in [n_words, n_chars] (every word is >= 1
    // token, merges only shrink). Zero-word documents encode to the
    // empty token sequence. Same oracle discipline as the ANN recall_ok
    // gates: the oracle knows every flag must be 1, so ANY encoder
    // regression — dropped word, reordered token, phantom merge — breaks
    // the hash. Merge-priority correctness itself is locked by BpeSpec
    // (batched == sequential, pair-for-pair).
    Q("qt18_bpe_encode",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val merges = Bpe.trainBatched(docs, "text", numMerges = 16)
      val enc = Bpe.encode(docs, "doc_id", "text", merges)
      docs.select(col("doc_id"), expr(Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("tokens"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_tokens"), lit(0L)) >= size(col("__ws")).cast("long") &&
            coalesce(col("n_tokens"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    },

    // ----- n-gram novelty (first-occurrence attribution) -----------------
    // Corpus-growth metric: what fraction of each document's distinct
    // 3-gram shingles first appear (smallest doc_id) in THAT document.
    // No pairwise work — the min's owner gets the credit straight off
    // the shingle -> min(doc_id) table (see
    // Dedup.firstOccurrenceNovelty for the two-linear-aggregate shape).
    Q("qt22_novelty", noveltyOracleSql) { (s, dir) =>
      Dedup.firstOccurrenceNovelty(Tables(s, dir, "documents"),
        "doc_id", "text", n = 3)
    },

    // ----- novelty served from the incrementally-maintained state ---------
    // SAME oracle text as qt22, deliberately: the gate proves the
    // per-batch append-only shingle minima (streaming.NoveltyIngest)
    // merge back to the corpus-scan novelty bit for bit after a
    // multi-batch build — min is a monoid, so a later batch carrying
    // an earlier doc id correctly steals first-occurrence credit.
    Q("qt24_novelty_indexed", noveltyOracleSql) { (s, dir) =>
      val path = Fixture.once("qt24_state", dir) {
        val out = Fixture.dir("graft_qt24_nov")
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        graft.streaming.NoveltyIngest.applyBatch(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", out, 0L)
        graft.streaming.NoveltyIngest.applyBatch(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", out, 1L)
        out
      }
      graft.streaming.NoveltyIngest.serve(s, path, "doc_id")
    },

    // ----- vocabulary coverage curve --------------------------------------
    // Tokenizer-design metric: corpus-token share covered by the top-N
    // words. N values bracket the gate corpus's vocabulary so the
    // partial slopes AND the full-coverage clamp both occur. The top-N
    // cut is TakeOrderedAndProject; only the ≤ max(N) survivors see a
    // window (rankTopK discipline).
    Q("qt23_vocab_coverage",
      s"""WITH w AS ($wCte),
         |t AS (SELECT unnest(ws) AS word FROM w),
         |c AS (SELECT word, COUNT(*) AS cnt FROM t GROUP BY word),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
         |      FROM c),
         |ns AS (SELECT unnest([4, 8, 16, 64]) AS n),
         |cov AS (SELECT n, CAST(SUM(cnt) AS BIGINT) AS covered
         |        FROM ns JOIN r ON rnk <= n GROUP BY n)
         |SELECT CAST(n AS BIGINT) AS n, covered, total,
         |  CAST(covered AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         |FROM cov, tot""".stripMargin) { (s, dir) =>
      TextAnalysis.vocabCoverage(Tables(s, dir, "documents"), "text",
        ns = Seq(4, 8, 16, 64))
    },

    // ----- tokenizer fertility by (label, predicted) language --------------
    // Subword tokens per word, grouped by the corpus's language label
    // AND qt01's prediction — tokenizer fertility and language-ID
    // confusion in one report (an English-centric tokenizer's
    // over-segmentation of other languages shows up per label even
    // when the predictor collapses to one class). Composes qt01's
    // language ID with qt03's token counts under one oracle; fertility
    // is one division of exact integer sums.
    Q("qt25_fertility", {
      val langs = Text.Stopwords.map(_._1)
      val scoreCols = langs
        .map(l => s"  ${Text.stopwordCountSql("ws", l)} AS score_$l")
        .mkString(",\n")
      val caseChain = langs.map { l =>
        val cond = langs.filter(_ != l)
          .map(o => s"score_$l >= score_$o").mkString(" AND ")
        s"WHEN $cond THEN '$l'"
      }.mkString("\n    ")
      s"""WITH w AS ($wCte),
         |s AS (SELECT doc_id, ws,\n$scoreCols\nFROM w),
         |l AS (SELECT s.doc_id, ws, d.lang,
         |        CASE $caseChain ELSE '${langs.last}' END AS predicted_lang
         |      FROM s JOIN documents d USING (doc_id)),
         |t AS (SELECT lang, predicted_lang,
         |        CAST(len(ws) AS BIGINT) AS wt,
         |        CAST(list_sum(list_transform(ws, w -> (length(w) + 3) // 4))
         |          AS BIGINT) AS bt
         |      FROM l)
         |SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(wt) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(bt) AS BIGINT) AS bpe_tokens,
         |  CASE WHEN SUM(wt) = 0 THEN 0.0
         |       ELSE CAST(SUM(bt) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE)
         |  END AS fertility
         |FROM t GROUP BY lang, predicted_lang""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables(s, dir, "documents"),
        "doc_id", "text", groupCols = Seq("lang"))
    },

    // ----- unigram-LM tokenizer encode round-trip ------------------------
    // The trained-model twin of qt18: the learned piece table is
    // data-dependent (Viterbi EM — not expressible as a static
    // oracle), so the gate checks the invariants every correct
    // unigram encoder satisfies per document: concatenating the
    // emitted pieces reproduces the concatenated words exactly
    // (lossless segmentation — the coverage floor's contract), and
    // the piece count sits in [n_words, n_chars] (>= 1 piece per
    // word, pieces never shorter than a character). Model quality and
    // determinism are locked by UnigramLmSpec (partitioning-invariant
    // piece table, EM convergence to multi-char pieces, coverage).
    Q("qt29_unigram_encode",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val vocab = UnigramLm.train(docs, "text")
      val enc = UnigramLm.encode(docs, "doc_id", "text", vocab)
      docs.select(col("doc_id"), expr(Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("pieces"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_pieces"), lit(0L)) >=
            size(col("__ws")).cast("long") &&
            coalesce(col("n_pieces"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    },

    // ----- streaming tokenizer serving -----------------------------------
    // The deploy shape of qt29 (the qt28 discipline applied to the
    // tokenizer): the SAME persisted vocabulary encodes the corpus
    // arriving as two micro-batches (streaming.EncodeIngest, per-batch
    // overwrite idempotency), and the served pieces satisfy the
    // IDENTICAL per-document invariants — oracle text shared with
    // qt29 verbatim. Stream-vs-batch bit-identity of the pieces
    // themselves is EncodeIngestSpec's lock.
    Q("qt30_stream_encoded",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val vp = ugVocabPath(s, dir)
      // one pieces dir per sf dir: applyBatch overwrites its own
      // batch=N subdirs, so re-invocations re-encode in place instead
      // of leaving a fresh directory per bench/verify pass
      val out = Fixture.once("qt30_pieces", dir) {
        Fixture.dir("graft_qt30_pieces")
      }
      val docs = Tables(s, dir, "documents")
      graft.streaming.EncodeIngest.applyBatch(s,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", vp, out, 0L)
      graft.streaming.EncodeIngest.applyBatch(s,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", vp, out, 1L)
      val enc = graft.streaming.EncodeIngest.serve(s, out)
        .select("doc_id", "pieces", "n_pieces")
      docs.select(col("doc_id"), expr(Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("pieces"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_pieces"), lit(0L)) >=
            size(col("__ws")).cast("long") &&
            coalesce(col("n_pieces"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    },

    // ----- incremental-count BPE training --------------------------------
    // The trainer whose per-pass cost is O(affected words + pair
    // table) instead of a full vocabulary re-aggregation
    // (Bpe.trainIncremental: delta-patched standing counts + a
    // merge-on-read base/overlay vocabulary, compacted here every 5
    // merges so the gate exercises BOTH overlay reads and the fold-in).
    // The builder REQUIRES the learned sequence equal the sequential
    // trainer's, pair for pair (the strongest possible check — the
    // gate fails loudly on any counts-maintenance drift), then gates
    // qt18's encoder invariants over the incremental merges.
    Q("qt32_bpe_incremental",
      """SELECT doc_id, CAST(1 AS BIGINT) AS roundtrip_ok,
        |  CAST(1 AS BIGINT) AS bounds_ok
        |FROM documents""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val merges = graft.operators.Bpe.trainIncremental(
        docs, "text", numMerges = 12, compactEvery = 5)
      // the sequential reference is the CHECK arm, not the operator
      // under test, so bench passes 2..n re-time only the incremental
      // trainer + encode against a cached reference
      val seqRef = Fixture.once("qt32_reference", dir) {
        graft.operators.Bpe.train(Tables(s, dir, "documents"), "text", 12)
      }
      require(merges == seqRef,
        "incremental trainer diverged from the sequential merge sequence")
      val enc = graft.operators.Bpe.encode(docs, "doc_id", "text", merges)
      docs.select(col("doc_id"),
          expr(graft.functions.Text.wordsExpr("text")).as("__ws"))
        .join(enc, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          (concat_ws("", coalesce(col("tokens"),
            array().cast("array<string>"))) ===
            concat_ws("", col("__ws"))).cast("long").as("roundtrip_ok"),
          (coalesce(col("n_tokens"), lit(0L)) >= size(col("__ws")).cast("long") &&
            coalesce(col("n_tokens"), lit(0L)) <=
              aggregate(transform(col("__ws"), w => length(w)),
                lit(0L), (a, x) => a + x))
            .cast("long").as("bounds_ok"))
    }
  )
}
