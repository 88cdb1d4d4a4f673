package graft.queries

import org.apache.spark.sql.functions._

import graft.{Fixture, Tables}
import graft.functions.{Exact, Text}
import graft.operators.{Dedup, Retrieval}

/** Oracle fragments and once-per-JVM fixtures used by gates in more
  * than one domain registry.
  */
private[queries] object Shared {

  /** Common oracle CTE: documents with their word arrays. */
  val wCte =
    s"SELECT doc_id, text, ${Text.wordsSql("text")} AS ws FROM documents"

  /** [[wCte]] keyed by source instead of carrying the text. */
  def wCteSource =
    s"SELECT doc_id, source, ${Text.wordsSql("text")} AS ws FROM documents"

  /** [[wCte]] without the text column. */
  val wCteWordsOnly =
    s"SELECT doc_id, ${Text.wordsSql("text")} AS ws FROM documents"

  def shCte =
    s"SELECT doc_id, ${Text.shinglesSql("ws")} AS s FROM w"

  /** qd06's near-dup cluster labels per sf dir, memoized to temp
    * parquet — five gates consume the identical frame (qd06, qp02,
    * qd17, qp11, qc13) and each was rebuilding the full
    * band-join + connected-components chain (~2.2 s apiece at sf0.1).
    * Both columns are BIGINT, so the round trip is bit-exact and every
    * consumer's hash is unchanged.
    */
  def clustersOf(s: org.apache.spark.sql.SparkSession,
                 dir: String): org.apache.spark.sql.DataFrame = {
    val p = Fixture.once("qd06_clusters", dir) {
      val out = Fixture.dir("graft_qd06_clusters")
      Dedup.nearDupClusters(Tables(s, dir, "documents"), "doc_id", "text",
          k = 48, bands = 24, threshold = 0.5)
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(p)
  }

  /** Shared qd13/qd14/qp06 oracle chain: w → duplicated-window islands
    * → maximal spans (CTEs `w` through `spans`), parameterized on the
    * window length. Callers append their own SELECT (qd13) or the
    * cov/tok/kept reassembly (qd14, qp06).
    */
  def spanChainSql(l: Int): String =
    s"""w AS ($wCte),
       |g AS (SELECT doc_id, unnest(range(1, len(ws) - $l + 2)) AS i, ws
       |      FROM w WHERE len(ws) >= $l),
       |g2 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |         array_to_string(ws[i:i+$l-1], ' ') AS gram FROM g),
       |dup AS (SELECT gram FROM g2 GROUP BY gram
       |        HAVING count(DISTINCT doc_id) >= 2),
       |d AS (SELECT doc_id, pos FROM g2 JOIN dup USING (gram)),
       |isl AS (SELECT doc_id, pos,
       |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |    <= $l THEN 0 ELSE 1 END AS brk FROM d),
       |sp AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
       |  ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM isl),
       |spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + $l AS s1
       |          FROM sp GROUP BY doc_id, grp)""".stripMargin

  /** qd14/qp06 shared continuation: spans → kept-token reassembly. */
  def spanKeptSql(l: Int): String =
    s"""cov AS (SELECT doc_id, unnest(range(s0, s1)) AS pos FROM spans),
       |tok AS (SELECT doc_id, unnest(ws) AS wrd,
       |        CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos FROM w),
       |kept AS (SELECT t.doc_id, t.wrd, t.pos FROM tok t LEFT JOIN cov c
       |         ON t.doc_id = c.doc_id AND t.pos = c.pos
       |         WHERE c.doc_id IS NULL),
       |ka AS (SELECT doc_id, string_agg(wrd, ' ' ORDER BY pos) AS clean_text,
       |       count(*) AS n_kept FROM kept GROUP BY doc_id)""".stripMargin

  /** Shared oracle prelude: documents → (did, dl, ws), corpus scalars,
    * exploded (did, dl, word), per-(doc, word) tf.
    */
  val bm25Prelude =
    s"""w AS ($wCte),
       |d AS (SELECT doc_id AS did, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |             CAST(SUM(dl) AS BIGINT) AS tot_dl FROM d),
       |wd AS (SELECT did, dl, unnest(ws) AS word FROM d),
       |tf AS (SELECT did, dl, word, COUNT(*) AS tf FROM wd GROUP BY 1, 2, 3)""".stripMargin

  /** The per-(doc, term) BM25 contribution — textually mirrors
    * Retrieval.bm25Term op-for-op (all exact IEEE ops, see the operator
    * scaladoc for why the idf keeps the ratio instead of its log).
    */
  val bm25ScoreSql =
    """((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      | * (CAST(tf AS DOUBLE) * 2.2)
      | / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
      |      / (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""".stripMargin

  // ----- shared retrieval arms, memoized per sf dir --------------------
  // qs17/qs19/qs20 read the SAME lexical BM25 arm, qs19/qs20 the same
  // exact-cosine truth, and qs17/qs23 the same exact semantic arm —
  // r13 rebuilt each from scratch per gate (~11 s of the suite spent
  // recomputing identical frames). Each is built once per (JVM, sf
  // dir) into a temp parquet, read back by every consumer. Every column
  // is an integer id/rank, so the parquet round trip is bit-exact and
  // the gate hashes are unchanged.
  //
  // The query sets are the `% 100` FIXTURE slices of the corpus tables
  // — constructed HERE, at the gate, and passed to the operators as
  // explicit bounded frames (the operators' bounded-query contract;
  // the oracle SQL mirrors the same fixture so hashes reproduce).

  /** The gates' fixed lexical query set: documents with id ≡ 0 (mod
    * 100). A fixture choice, not operator behavior — the operators take
    * the query frame as a parameter.
    */
  def queryDocsOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "documents").filter(col("doc_id") % 100 === 0)

  def memoParquet(
      tag: String, s: org.apache.spark.sql.SparkSession, dir: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val path = Fixture.once(tag, dir) {
      val out = Fixture.dir(s"graft_$tag")
      build.write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(path)
  }

  /** Lexical BM25 arm, kArm = 20: (qid, did, rl). */
  def lexArm20(s: org.apache.spark.sql.SparkSession, dir: String) =
    memoParquet("lexarm", s, dir) {
      Retrieval.bm25PerQueryTopK(Tables(s, dir, "documents"),
        "doc_id", "text", queryDocsOf(s, dir), kArm = 20)
    }

  /** The novelty CTE chain (assumes `w`) — shared by qt22/qt24's
    * oracle AND qp09's composition, so the novelty definition lives in
    * ONE place on the oracle side too.
    */
  val noveltyCtes =
    s"""sh AS (SELECT doc_id, ${Text.shinglesSql("ws")} AS s FROM w),
       |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
       |nsh AS (SELECT doc_id, COUNT(*) AS n_shingles FROM e GROUP BY doc_id),
       |nvl AS (SELECT fid AS doc_id, COUNT(*) AS n_novel FROM
       |         (SELECT min(doc_id) AS fid FROM e GROUP BY sh)
       |        GROUP BY fid)""".stripMargin

  val noveltyRateSql =
    """CASE WHEN COALESCE(n_shingles, 0) = 0 THEN 0.0
      |     ELSE CAST(COALESCE(n_novel, 0) AS DOUBLE)
      |          / CAST(n_shingles AS DOUBLE) END""".stripMargin

  /** Lexical per-query arm (Retrieval.bm25PerQueryTopK): qw..lt CTEs,
    * `lt` = (qid, did, rl), rl <= kArm. Assumes `bm25Prelude` + `d`.
    */
  def lexArmSql(kArm: Int) =
    s"""qw AS (SELECT DISTINCT qid, word FROM
       |        (SELECT did AS qid, unnest(ws) AS word FROM d
       |         WHERE did % 100 = 0)),
       |qv AS (SELECT DISTINCT word FROM qw),
       |tfq AS (SELECT tf.* FROM tf JOIN qv USING (word)),
       |tfd AS (SELECT *, COUNT(*) OVER (PARTITION BY word) AS df FROM tfq),
       |sc AS (SELECT qid, did, $bm25ScoreSql AS score
       |       FROM tfd JOIN qw USING (word), s WHERE did <> qid),
       |lex AS (SELECT qid, did, ${Exact.dsumSql("score")} AS lex
       |        FROM sc GROUP BY qid, did),
       |lexr AS (SELECT qid, did, ROW_NUMBER() OVER (PARTITION BY qid
       |           ORDER BY lex DESC, did) AS rl FROM lex),
       |lt AS (SELECT qid, did, rl FROM lexr WHERE rl <= $kArm)""".stripMargin

  /** qt30's trained-and-persisted unigram vocabulary per sf dir —
    * trained ONCE per JVM (the serve gate's operator is the SERVE, so
    * bench passes 2..n time the stream encode, not the one-time train).
    */
  def ugVocabPath(s: org.apache.spark.sql.SparkSession,
                  dir: String): String =
    Fixture.once("qt30_vocab", dir) {
      val out = Fixture.dir("graft_qt30_vocab")
      val vocab = graft.operators.UnigramLm.train(Tables(s, dir, "documents"),
        "text")
      graft.operators.Models.saveVocab(s, vocab, s"$out/vocab")
      s"$out/vocab"
    }
}
