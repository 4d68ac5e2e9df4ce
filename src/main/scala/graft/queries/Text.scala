package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.NativeExprs
import graft.operators.TextOps

/** Text-analysis family over the `documents` table: token counting,
  * quality scoring, lexicon language-ID, rolling-hash fingerprinting.
  * (Reference analogue: the parser/scalar-function layer, SURVEY.md
  * §2.7 — here generalized to the corpus-processing ops a training-data
  * pipeline needs.)
  *
  * Scale: every query is a single narrow projection or one
  * explode+broadcast-join+agg — no self-joins, no wide shuffles; all
  * scale linearly in corpus size.
  */
object Text {

  /** DuckDB mirror of TextOps.rollingHash. */
  def duckRollingHash(s: String, base: Long = 131L, mod: Long = 1000000007L): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, length($s)+1), i -> CAST(unicode($s[i]) AS BIGINT))),
       |  (acc, c) -> (acc * $base + c) % $mod)""".stripMargin

  /** DuckDB mirror of TextOps.hash60. */
  def duckHash60(s: String): String =
    s"(${duckRollingHash(s, 131L, 1000000007L)} + ${duckRollingHash(s, 137L, 998244353L)} * 1073741824)"

  val duckToks = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** BM25 per-term partial score over columns (tf, df, dl, nd, lsum) —
    * k1=1.2, b=0.75, log-free rational idf, saturation scaled through
    * by 10·L so every operand is an exact int64 before the two
    * divisions and one multiply (see x25's header comment). Shared by
    * x25 (inline fit) and x26 (served from the published index) so
    * the IEEE op sequence cannot drift between the two paths.
    */
  private def bm25Sterm: org.apache.spark.sql.Column =
    ((lit(2L) * (col("nd") - col("df")) + lit(1L)).cast("double") /
      (lit(2L) * col("df") + lit(1L)).cast("double")) *
    ((lit(22L) * col("tf") * col("lsum")).cast("double") /
      (lit(10L) * col("tf") * col("lsum") + lit(3L) * col("lsum") +
        lit(9L) * col("dl") * col("nd")).cast("double"))

  /** Fixed-order CASE-pivot sum of the ≤3 per-term scores plus the
    * heap-merge top-10 — the back half x25 and x26 share. Input needs
    * columns (doc_id, dl, term, tf, sterm).
    */
  private def bm25TopK(sc: org.apache.spark.sql.DataFrame,
      qterms: Seq[String]): org.apache.spark.sql.DataFrame = {
    def pick(t: String, c: String) = max(when(col("term") === t, col(c)))
    sc.groupBy(col("doc_id"), col("dl"))
      .agg(
        coalesce(pick(qterms(0), "tf"), lit(0L)).as("tf_" + qterms(0)),
        coalesce(pick(qterms(1), "tf"), lit(0L)).as("tf_" + qterms(1)),
        coalesce(pick(qterms(2), "tf"), lit(0L)).as("tf_" + qterms(2)),
        coalesce(pick(qterms(0), "sterm"), lit(0.0)).as("s0"),
        coalesce(pick(qterms(1), "sterm"), lit(0.0)).as("s1"),
        coalesce(pick(qterms(2), "sterm"), lit(0.0)).as("s2"))
      .select(col("doc_id"), col("dl"),
        col("tf_" + qterms(0)), col("tf_" + qterms(1)),
        col("tf_" + qterms(2)),
        (col("s0") + col("s1") + col("s2")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** x25/x26 shared oracle: BM25 is deterministic given the corpus, so
    * the served path's oracle is the inline fit verbatim.
    */
  private def bm25OracleSql: String = bm25OracleSqlFrom("documents")

  /** x28/x30 shared oracle: the fresh-build expectation on the REDUCED
    * corpus — eager-fold and merge-on-read deletion must both serve
    * exactly this.
    */
  private def bm25ReducedOracleSql: String =
    bm25OracleSqlFrom("documents WHERE doc_id % 7 <> 0")

  private def bm25OracleSqlFrom(src: String): String =
    s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM $src),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
            CAST(SUM(dl) AS BIGINT) AS lsum FROM dl),
        tf AS (SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM d)
          WHERE term IN ('dup', 'vector', 'join') GROUP BY doc_id, term),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        sc AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
            (CAST(2 * (nd - df) + 1 AS DOUBLE) /
              CAST(2 * df + 1 AS DOUBLE)) *
            (CAST(22 * tf * lsum AS DOUBLE) /
              CAST(10 * tf * lsum + 3 * lsum + 9 * dl * nd AS DOUBLE)) AS sterm
          FROM tf JOIN dfq USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot),
        p AS (SELECT doc_id, dl,
            COALESCE(MAX(CASE WHEN term = 'dup' THEN tf END), 0) AS tf_dup,
            COALESCE(MAX(CASE WHEN term = 'vector' THEN tf END), 0) AS tf_vector,
            COALESCE(MAX(CASE WHEN term = 'join' THEN tf END), 0) AS tf_join,
            COALESCE(MAX(CASE WHEN term = 'dup' THEN sterm END), 0.0) AS s0,
            COALESCE(MAX(CASE WHEN term = 'vector' THEN sterm END), 0.0) AS s1,
            COALESCE(MAX(CASE WHEN term = 'join' THEN sterm END), 0.0) AS s2
          FROM sc GROUP BY doc_id, dl)
        SELECT doc_id, dl, CAST(tf_dup AS BIGINT) AS tf_dup,
          CAST(tf_vector AS BIGINT) AS tf_vector,
          CAST(tf_join AS BIGINT) AS tf_join,
          s0 + s1 + s2 AS score
        FROM p ORDER BY score DESC, doc_id LIMIT 10"""

  /** Lexicon for marker-based language ID (x3). Tokens drawn from the
    * corpus vocabulary; deterministic and engine-neutral.
    */
  val lexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "fast", "en" -> "slow",
    "es" -> "data", "es" -> "vector", "es" -> "query", "es" -> "table",
    "de" -> "stream", "de" -> "batch", "de" -> "window", "de" -> "group",
    "fr" -> "join", "fr" -> "merge", "fr" -> "sort", "fr" -> "order",
    "zh" -> "hash", "zh" -> "scan", "zh" -> "filter", "zh" -> "key")

  val all: Seq[Q] = Seq(

    // ---- winnowing fingerprint (Schleimer et al. 2003): rolling char
    // k-gram hashes, sliding-window minima over full windows, distinct
    // minima = the document's fingerprint set. Explode+window shape —
    // one shuffle on doc_id, codegen'd hashing, no array lambdas.
    Q("x6_winnowing",
      (s, dir) => {
        import s.implicits._
        val k = 8; val win = 4
        // docs shorter than k have no grams on either engine; without
        // the guard Spark's sequence(1, length-7) would count DOWN and
        // emit spurious positions
        val grams = Tables.load(s, dir, "documents")
          .filter(length($"text") >= k)
          .select($"doc_id", $"text",
            explode(sequence(lit(1), length($"text") - (k - 1))).as("pos"))
          .select($"doc_id", $"pos",
            (length($"text") - (k - 1) - (win - 1)).as("last_full"),
            graft.functions.NativeExprs.rollingHash(s, $"text".substr($"pos", lit(k))).as("gh"))
        val w = Window.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(Window.currentRow, win - 1)
        grams
          .withColumn("wmin", min($"gh").over(w))
          .filter($"pos" <= $"last_full")
          .groupBy($"doc_id")
          .agg(
            countDistinct($"wmin").as("n_fp"),
            min($"wmin").as("fp_min"),
            max($"wmin").as("fp_max"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, count(DISTINCT wmin) AS n_fp,
          min(wmin) AS fp_min, max(wmin) AS fp_max
        FROM (
          SELECT doc_id, pos, last_full,
            min(gh) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
          FROM (
            SELECT doc_id, pos, length(text) - 7 - 3 AS last_full,
              ${duckRollingHash("text[pos:pos+7]")} AS gh
            FROM (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS pos
                  FROM documents)))
        WHERE pos <= last_full
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- token counting: whitespace tokens + distinct + avg length ----
    Q("x1_text_stats",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text", TextOps.tokens($"text").as("toks"))
          .select(
            $"doc_id",
            size($"toks").cast("long").as("n_tokens"),
            size(array_distinct($"toks")).cast("long").as("n_uniq_tokens"),
            length($"text").cast("long").as("len"),
            (aggregate(transform($"toks", t => length(t).cast("long")),
              lit(0L), (a, b) => a + b).cast("double") / size($"toks"))
              .as("avg_tok_len"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, len(toks) AS n_tokens,
        len(list_distinct(toks)) AS n_uniq_tokens,
        length(text) AS len,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a,b) -> a+b) AS DOUBLE)
          / len(toks) AS avg_tok_len
        FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)
        ORDER BY doc_id""")),

    // ---- heuristic quality score (stopword/uniqueness/length mix) -----
    Q("x2_quality",
      (s, dir) => {
        import s.implicits._
        val stop = Seq("the", "a", "of", "and", "to", "in")
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text", TextOps.tokens($"text").as("toks"))
          .select(
            $"doc_id",
            (size(filter($"toks", t => t.isin(stop.map(lit(_)): _*)))
              .cast("double") / size($"toks")).as("stop_ratio"),
            (size(array_distinct($"toks")).cast("double") / size($"toks"))
              .as("uniq_ratio"),
            length($"text").cast("long").as("len"))
          .withColumn("quality",
            lit(0.3) * $"uniq_ratio" + lit(0.4) * (lit(1.0) - $"stop_ratio")
              + lit(0.3) * least(lit(1.0), $"len".cast("double") / lit(256.0)))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id, stop_ratio, uniq_ratio, len,
        0.3 * uniq_ratio + 0.4 * (1.0 - stop_ratio)
          + 0.3 * least(1.0, CAST(len AS DOUBLE) / 256.0) AS quality
        FROM (SELECT doc_id,
          CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
            / len(toks) AS stop_ratio,
          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
          length(text) AS len
          FROM (SELECT doc_id, text, $duckToks AS toks FROM documents))
        ORDER BY doc_id""")),

    // ---- lexicon language-ID: explode → broadcast lexicon join →
    // argmax per doc (score desc, lang asc tiebreak) -------------------
    Q("x3_langid",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val lex = s.createDataFrame(lexicon).toDF("pred_lang", "tok")
        val hits = docs
          .select($"doc_id", explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
          .join(broadcast(lex), "tok")
          .groupBy($"doc_id", $"pred_lang")
          .agg(count(lit(1)).as("score"))
        val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"pred_lang")
        val best = hits.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"doc_id", $"pred_lang", $"score")
        docs.select($"doc_id", $"lang")
          .join(best, Seq("doc_id"), "left")
          .select($"doc_id", $"lang",
            coalesce($"pred_lang", lit("und")).as("pred_lang"),
            coalesce($"score", lit(0L)).as("score"))
          .orderBy($"doc_id")
      },
      Some {
        val vals = lexicon.map { case (l, t) => s"('$l','$t')" }.mkString(", ")
        s"""SELECT d.doc_id, d.lang,
          COALESCE(b.pred_lang, 'und') AS pred_lang,
          COALESCE(b.score, 0) AS score
        FROM documents d LEFT JOIN (
          SELECT doc_id, pred_lang, score FROM (
            SELECT doc_id, pred_lang, score, row_number() OVER
              (PARTITION BY doc_id ORDER BY score DESC, pred_lang) AS rn
            FROM (
              SELECT doc_id, pred_lang, count(*) AS score FROM (
                SELECT doc_id, unnest(list_distinct($duckToks)) AS tok
                FROM documents) t
              JOIN (VALUES $vals) lex(pred_lang, tok) USING (tok)
              GROUP BY doc_id, pred_lang))
          WHERE rn = 1) b ON d.doc_id = b.doc_id
        ORDER BY d.doc_id"""
      }),

    // ---- BPE-ish regex tokenization (byte-level-BPE pretokenizer
    // shape: contraction suffixes | space-prefixed word | number |
    // punctuation run | whitespace run) — token counting for a
    // training-data pipeline. Same leftmost-first alternation in Java
    // regex and DuckDB's RE2.
    Q("x5_bpe_tokens",
      (s, dir) => {
        import s.implicits._
        val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+| +"
        Tables.load(s, dir, "documents")
          .select($"doc_id",
            regexp_extract_all($"text", lit(pat), lit(0)).as("toks"))
          .select($"doc_id",
            size($"toks").cast("long").as("n_bpe"),
            size(array_distinct($"toks")).cast("long").as("n_uniq_bpe"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
        len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+| +')) AS n_bpe,
        len(list_distinct(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+| +'))) AS n_uniq_bpe
        FROM documents ORDER BY doc_id""")),

    // ---- document fingerprinting: full-doc rolling hash + min/distinct
    // token fingerprints (Rabin–Karp / winnowing building blocks) -------
    Q("x4_fingerprint",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text",
            transform(TextOps.tokens($"text"), t => TextOps.rollingHash(t)).as("tokfps"))
          .select(
            $"doc_id",
            TextOps.rollingHash($"text").as("fp_doc"),
            array_min($"tokfps").as("fp_min"),
            size(array_distinct($"tokfps")).cast("long").as("n_uniq_fp"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
        ${duckRollingHash("text")} AS fp_doc,
        list_min(tokfps) AS fp_min,
        len(list_distinct(tokfps)) AS n_uniq_fp
        FROM (SELECT doc_id, text,
          list_transform($duckToks, t -> ${duckRollingHash("t")}) AS tokfps
          FROM documents)
        ORDER BY doc_id""")),

    // ---- TF-IDF keyword extraction: top-3 terms per doc ----------------
    // Ranking by tf/df (equivalent to tf·idf with any monotone idf —
    // the corpus size N is constant within a document's ranking, and a
    // log() would differ in the last ulp across engines). Shape: one
    // term-level aggregation, one df aggregation joined back on term
    // (shuffle-join at scale; the df side is the distinct vocabulary,
    // orders of magnitude smaller than the token stream), one bounded
    // per-doc window.
    Q("x7_tfidf_topk",
      (s, dir) => {
        import s.implicits._
        val tf = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy($"doc_id")
          .orderBy(($"tf".cast("double") / $"df").desc, $"term")
        tf.join(df, "term")
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"doc_id", $"rank".cast("long").as("rank"), $"term", $"tf", $"df")
          .orderBy($"doc_id", $"rank")
      },
      Some(s"""WITH tf AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest($duckToks) AS term FROM documents)
          GROUP BY doc_id, term),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        ranked AS (
          SELECT doc_id, term, tf, df,
            row_number() OVER (PARTITION BY doc_id
              ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS rank
          FROM tf JOIN df USING (term))
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""")),

    // ---- sliding-window chunking: token windows of 100, stride 60 ------
    // The pre-tokenizer split a training pipeline runs before packing;
    // chunk boundaries are pure per-row array math (sequence + explode),
    // so the operator is linear with no shuffle at all.
    Q("x8_chunk_windows",
      (s, dir) => {
        import s.implicits._
        val win = 100; val stride = 60
        Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .filter(size($"toks") > 0)
          .select($"doc_id", $"toks", size($"toks").cast("long").as("n"),
            explode(sequence(lit(0L), size($"toks").cast("long") - 1, lit(stride.toLong)))
              .as("start"))
          .select($"doc_id",
            ($"start" / stride).cast("long").as("chunk_idx"),
            $"start",
            least(lit(win.toLong), $"n" - $"start").as("chunk_len"),
            element_at($"toks", ($"start" + 1).cast("int")).as("first_tok"),
            element_at($"toks", ($"start" + least(lit(win.toLong), $"n" - $"start")).cast("int"))
              .as("last_tok"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some(s"""WITH t AS (
          SELECT doc_id, $duckToks AS toks, len($duckToks) AS n FROM documents),
        st AS (SELECT doc_id, toks, CAST(n AS BIGINT) AS n,
            CAST(unnest(range(0, n, 60)) AS BIGINT) AS start
          FROM t WHERE n > 0)
        SELECT doc_id, start // 60 AS chunk_idx, start,
          least(100, n - start) AS chunk_len,
          toks[start + 1] AS first_tok,
          toks[start + least(100, n - start)] AS last_tok
        FROM st ORDER BY doc_id, chunk_idx""")),

    // ---- PII redaction: email/phone scrub with counts ------------------
    // Inline corpus (the synthetic documents table contains no PII);
    // patterns are deliberately RE2-portable (no lookaround, no
    // backreferences) so Java regex and DuckDB RE2 agree. The operator
    // itself is a narrow linear projection — regexp_replace +
    // regexp_count over the text column.
    Q("x9_pii_redact",
      (s, dir) => {
        import s.implicits._
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
        val corpus = Seq(
          (0L, "contact john.doe@example.com or call +1 (555) 123-4567 today"),
          (1L, "no pii here just ordinary words and numbers 42"),
          (2L, "mail a@b.io and c.d+tag@mail.example.org, phone 03-1234-5678"),
          (3L, "dial 0120 345 678 twice; write to OPS@EXAMPLE.CO.JP"),
          (4L, "@@ not-an-email@ and 12345 stay untouched"))
        corpus.toDF("id", "text")
          .select($"id",
            regexp_count($"text", lit(email)).cast("long").as("n_emails"),
            regexp_count($"text", lit(phone)).cast("long").as("n_phones"),
            regexp_replace(regexp_replace($"text", email, "<EMAIL>"), phone, "<PHONE>")
              .as("redacted"))
          .orderBy($"id")
      },
      Some("""WITH corpus(id, text) AS (VALUES
          (0, 'contact john.doe@example.com or call +1 (555) 123-4567 today'),
          (1, 'no pii here just ordinary words and numbers 42'),
          (2, 'mail a@b.io and c.d+tag@mail.example.org, phone 03-1234-5678'),
          (3, 'dial 0120 345 678 twice; write to OPS@EXAMPLE.CO.JP'),
          (4, '@@ not-an-email@ and 12345 stay untouched'))
        SELECT CAST(id AS BIGINT) AS id,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones,
          regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        FROM corpus ORDER BY id""")),

    // ---- corpus heavy hitters: stopword discovery by document frequency
    // Terms present in ≥ 10% of documents. The total-count side is a
    // one-row aggregate cross-joined in (broadcast — no driver
    // collect); the df aggregation is partial-agg friendly (distinct
    // terms per doc exploded once).
    Q("x10_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val tot = docs.agg(count(lit(1)).as("n_docs"))
        docs.select(explode(array_distinct(TextOps.tokens($"text"))).as("term"))
          .groupBy($"term").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(tot))
          .filter($"df".cast("double") / $"n_docs" >= 0.10)
          .select($"term", $"df", $"n_docs",
            ($"df".cast("double") / $"n_docs").as("pct"))
          .orderBy($"df".desc, $"term")
      },
      Some(s"""WITH ex AS (
          SELECT doc_id, unnest(list_distinct($duckToks)) AS term FROM documents),
        tot AS (SELECT count(*) AS n_docs FROM documents)
        SELECT term, CAST(count(*) AS BIGINT) AS df, n_docs,
          CAST(count(*) AS DOUBLE) / n_docs AS pct
        FROM ex, tot GROUP BY term, n_docs
        HAVING CAST(count(*) AS DOUBLE) / n_docs >= 0.10
        ORDER BY df DESC, term""")),

    // ---- quality-gate quartiles: ntile over the x2 quality score -------
    // The bucketing step before "train on the top quartile": per-lang
    // quartiles of the composite quality score. The window's ORDER BY
    // is (score, doc_id) — a total order, so ntile is deterministic on
    // both engines.
    Q("x11_quality_quartiles",
      (s, dir) => {
        import s.implicits._
        val stop = Seq("the", "a", "of", "and", "to", "in")
        val scored = Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"text", TextOps.tokens($"text").as("toks"))
          // zero-token guard (mirrors x8): 0.0/0 is NaN on Spark but
          // engine-dependent in general — keep it off the hash surface
          .filter(size($"toks") > 0)
          .select($"doc_id", $"lang",
            (size(filter($"toks", t => t.isin(stop.map(lit(_)): _*)))
              .cast("double") / size($"toks")).as("stop_ratio"),
            (size(array_distinct($"toks")).cast("double") / size($"toks"))
              .as("uniq_ratio"),
            length($"text").cast("long").as("len"))
          .select($"doc_id", $"lang",
            (lit(0.3) * $"uniq_ratio" + lit(0.4) * (lit(1.0) - $"stop_ratio")
              + lit(0.3) * least(lit(1.0), $"len".cast("double") / lit(256.0)))
              .as("quality"))
        val w = Window.partitionBy($"lang").orderBy($"quality", $"doc_id")
        scored.withColumn("quartile", ntile(4).over(w).cast("long"))
          .groupBy($"lang", $"quartile")
          .agg(count(lit(1)).as("n"),
            min($"quality").as("min_q"), max($"quality").as("max_q"))
          .orderBy($"lang", $"quartile")
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, lang,
            0.3 * uniq_ratio + 0.4 * (1.0 - stop_ratio)
              + 0.3 * least(1.0, CAST(len AS DOUBLE) / 256.0) AS quality
          FROM (SELECT doc_id, lang,
            CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
              / len(toks) AS stop_ratio,
            CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
            length(text) AS len
            FROM (SELECT doc_id, lang, text, $duckToks AS toks FROM documents)
            WHERE len(toks) > 0)),
        bucketed AS (
          SELECT lang, quality,
            ntile(4) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS quartile
          FROM scored)
        SELECT lang, CAST(quartile AS BIGINT) AS quartile, count(*) AS n,
          min(quality) AS min_q, max(quality) AS max_q
        FROM bucketed GROUP BY lang, quartile ORDER BY lang, quartile""")),

    // ---- repetition filter: Gopher-style duplicate-n-gram signals ------
    // The repetition rules of Rae et al. 2021 (Gopher, arXiv:2112.11446
    // §A1.1): a document is repetitive when its most common 2-gram
    // accounts for too much of the text, or too many of its 2-grams are
    // duplicated. The signals are functions of ONE document's tokens,
    // so the scalable shape is a zero-shuffle projection — a single
    // codegen'd pass per row (Gram2StatsExpr) — not an explode +
    // aggregate over one row per corpus token. The fractions are exact
    // integer ratios so the double division is engine-identical. Docs
    // with < 2 tokens have no 2-grams and are filtered (the x8 guard).
    Q("x12_repetition",
      (s, dir) => {
        import s.implicits._
        // the stats are row-local: one codegen'd pass per document
        // (Gram2StatsExpr), NO explode / groupBy — the former shape
        // shuffled one row per corpus token, twice
        Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .filter(size($"toks") >= 2)
          .select($"doc_id", NativeExprs.gram2Stats(s, $"toks").as("st"))
          .select($"doc_id", $"st.n2".as("n2"),
            ($"st.maxc".cast("double") / $"st.n2").as("top2_frac"),
            ($"st.dupc".cast("double") / $"st.n2").as("dup2_frac"))
          .withColumn("repetitive", $"top2_frac" > 0.2 || $"dup2_frac" > 0.6)
          .orderBy($"doc_id")
      },
      Some(s"""WITH g AS (
          SELECT doc_id, unnest(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i+1])) AS g2
          FROM (SELECT doc_id, $duckToks AS toks FROM documents)
          WHERE len(toks) >= 2),
        c AS (SELECT doc_id, g2, count(*) AS c FROM g GROUP BY doc_id, g2),
        a AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
            CAST(MAX(c) AS BIGINT) AS maxc,
            CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupc
          FROM c GROUP BY doc_id)
        SELECT doc_id, n2,
          CAST(maxc AS DOUBLE) / n2 AS top2_frac,
          CAST(dupc AS DOUBLE) / n2 AS dup2_frac,
          (CAST(maxc AS DOUBLE) / n2 > 0.2 OR CAST(dupc AS DOUBLE) / n2 > 0.6)
            AS repetitive
        FROM a ORDER BY doc_id""")),

    // ---- sequence packing: map docs onto fixed token-budget rows -------
    // GPT-style pretraining packing: concatenate the corpus in doc_id
    // order and cut it into fixed 512-token sequences; a document knows
    // its global token offset, first sequence, offset within it, and
    // how many sequences it spans (documents straddle cuts — that IS
    // the packing contract). The global offset is a DISTRIBUTED
    // TWO-PHASE PREFIX SUM, not a single-partition running window:
    // per-bucket token totals (partial agg) → a running sum over the
    // tiny bucket list → each doc's offset = its bucket's prefix + a
    // window bounded WITHIN its bucket. The only unpartitioned window
    // sorts one row per 1000 docs; at 100 TB every heavy window stays
    // bucket-local. All-integer math keeps the oracle exact.
    Q("x13_seq_packing",
      (s, dir) => {
        import s.implicits._
        val B = 512
        val t = Tables.load(s, dir, "documents")
          .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("ntok"))
          .filter($"ntok" > 0)
          .withColumn("bkt", ($"doc_id" / 1000).cast("long"))
        val bktOff = t.groupBy($"bkt").agg(sum($"ntok").as("bt"))
          .withColumn("boff", coalesce(sum($"bt").over(
            Window.orderBy($"bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"bkt", $"boff")
        val woff = t.withColumn("woff", coalesce(sum($"ntok").over(
          Window.partitionBy($"bkt").orderBy($"doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        woff.join(broadcast(bktOff), "bkt")
          .select($"doc_id", $"ntok", ($"boff" + $"woff").as("tok_start"))
          .select($"doc_id", $"ntok", $"tok_start",
            expr(s"tok_start DIV $B").as("seq_id"),
            ($"tok_start" % B).as("seq_off"),
            (expr(s"(tok_start + ntok - 1) DIV $B") - expr(s"tok_start DIV $B") + 1L)
              .as("n_seqs"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok
          FROM (SELECT doc_id, $duckToks AS toks FROM documents)
          WHERE len(toks) > 0),
        c AS (
          SELECT doc_id, ntok,
            CAST(COALESCE(SUM(ntok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS tok_start
          FROM t)
        SELECT doc_id, ntok, tok_start,
          tok_start // 512 AS seq_id,
          tok_start % 512 AS seq_off,
          (tok_start + ntok - 1) // 512 - tok_start // 512 + 1 AS n_seqs
        FROM c ORDER BY doc_id""")),

    // ---- unigram LM surprisal: corpus-frequency quality score ----------
    // The CCNet-style LM quality signal with the LM reduced to the
    // corpus's own unigram distribution: p(tok) = count/total over the
    // whole corpus, per-doc score = mean −ln p. Two partial-agg passes
    // (vocab counts, per-doc mean) and a vocabulary equi-join; the
    // one-row total rides a broadcast cross join (x10 shape). The score
    // is rounded to 6 decimals — ln/avg differ across engines (and
    // across partial-agg orders) only in last ulps, far below the
    // rounding quantum (the IvfCodebook determinism argument).
    Q("x14_unigram_surprisal",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        val freq = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
        val total = freq.agg(sum($"c").as("total"))
        toks.join(freq, "tok").crossJoin(broadcast(total))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_toks"),
            round(avg(-log($"c".cast("double") / $"total")), 6).as("surprisal"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, unnest($duckToks) AS tok FROM documents),
        f AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        t AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM f)
        SELECT doc_id, count(*) AS n_toks,
          round(avg(-ln(CAST(c AS DOUBLE) / total)), 6) AS surprisal
        FROM toks JOIN f USING (tok) CROSS JOIN t
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- benchmark decontamination: n-gram overlap vs a held-out set ---
    // The eval-contamination check every pretraining pipeline runs:
    // find corpus documents sharing 3-gram shingles with a benchmark
    // set (stand-in here: doc_id < 5) and report the shared-shingle
    // count and the benchmark-coverage fraction. The benchmark side is
    // tiny and BROADCAST; the corpus side explodes shingles once and
    // equi-joins on the shingle — linear in corpus size, no self-join.
    // Shingles are the same codegen'd WordShinglesExpr as d2/d3 (and
    // the same '_'-joined construction in the oracle).
    Q("x15_decontaminate",
      (s, dir) => {
        import s.implicits._
        val sh = Dedup.shingledFrom(Tables.load(s, dir, "documents"))
        val bench = sh.filter($"doc_id" < 5)
          .select($"doc_id".as("bench_id"), size($"shs").cast("long").as("bench_n"),
            explode($"shs").as("sh"))
        val corpus = sh.filter($"doc_id" >= 5)
          .select($"doc_id", explode($"shs").as("sh"))
        corpus.join(broadcast(bench), "sh")
          .groupBy($"doc_id", $"bench_id", $"bench_n")
          .agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= 3)
          .select($"doc_id", $"bench_id", $"n_shared",
            ($"n_shared".cast("double") / $"bench_n").as("contamination"))
          .orderBy($"doc_id", $"bench_id")
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
            ELSE list_transform(range(1, len(toks)-1),
              i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) END) AS shs
          FROM (SELECT doc_id, $duckToks AS toks FROM documents)),
        b AS (SELECT doc_id AS bench_id, CAST(len(shs) AS BIGINT) AS bench_n,
            unnest(shs) AS sh FROM sh WHERE doc_id < 5),
        c AS (SELECT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id >= 5)
        SELECT c.doc_id, b.bench_id, count(*) AS n_shared,
          CAST(count(*) AS DOUBLE) / b.bench_n AS contamination
        FROM c JOIN b USING (sh)
        GROUP BY c.doc_id, b.bench_id, b.bench_n
        HAVING count(*) >= 3
        ORDER BY c.doc_id, b.bench_id""")),

    // ---- composed curation pipeline: the decision a corpus run makes ---
    // The C4-style end-to-end filter: exact-dup keeper (d1's digest) ∧
    // quality threshold (x2's score) ∧ repetition gate (x12's signals),
    // emitted per document with each gate's verdict so the filter
    // funnel is inspectable. Quality AND repetition signals are
    // row-local (Gram2StatsExpr), so the whole pipeline is ONE corpus
    // pass plus the exact-dedup keeper aggregation and its join on the
    // fixed-width content hash — at 100 TB the only shuffle is the
    // dedup itself. Thresholds compare bit-identical doubles
    // (exact integer ratios and the x2 formula), so the gates agree
    // across engines.
    Q("x16_filter_pipeline",
      (s, dir) => {
        import s.implicits._
        val stop = Seq("the", "a", "of", "and", "to", "in")
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"text", TextOps.tokens($"text").as("toks"))
          .filter(size($"toks") >= 2)
        val keeper = d.groupBy(md5($"text".cast("binary")).as("h"))
          .agg(min($"doc_id").as("keep_id"))
        // repetition + quality signals are all row-local (Gram2StatsExpr
        // — see x12): ONE pass over the corpus, and the only shuffle
        // left in the pipeline is the exact-dedup keeper aggregation
        val scored = d.select($"doc_id", $"lang",
            md5($"text".cast("binary")).as("h"),
            NativeExprs.gram2Stats(s, $"toks").as("st"),
            (size(filter($"toks", t => t.isin(stop.map(lit(_)): _*)))
              .cast("double") / size($"toks")).as("stop_ratio"),
            (size(array_distinct($"toks")).cast("double") / size($"toks"))
              .as("uniq_ratio"),
            length($"text").cast("long").as("len"))
          .withColumn("quality",
            lit(0.3) * $"uniq_ratio" + lit(0.4) * (lit(1.0) - $"stop_ratio")
              + lit(0.3) * least(lit(1.0), $"len".cast("double") / lit(256.0)))
          .withColumn("top2_frac", $"st.maxc".cast("double") / $"st.n2")
          .withColumn("dup2_frac", $"st.dupc".cast("double") / $"st.n2")
        scored.join(keeper, "h")
          .select($"doc_id", $"lang", $"quality", $"top2_frac", $"dup2_frac",
            ($"doc_id" === $"keep_id").as("dedup_keeper"),
            ($"quality" >= 0.5).as("quality_ok"),
            ($"top2_frac" <= 0.2 && $"dup2_frac" <= 0.6).as("not_repetitive"))
          .withColumn("kept", $"dedup_keeper" && $"quality_ok" && $"not_repetitive")
          .orderBy($"doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id, lang, text, toks FROM
            (SELECT doc_id, lang, text, $duckToks AS toks FROM documents)
          WHERE len(toks) >= 2),
        keeper AS (
          SELECT md5(text) AS h, min(doc_id) AS keep_id FROM d GROUP BY 1),
        cg AS (
          SELECT doc_id, g2, count(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              i -> toks[i] || ' ' || toks[i+1])) AS g2 FROM d)
          GROUP BY doc_id, g2),
        ra AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
            CAST(MAX(c) AS BIGINT) AS maxc,
            CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupc
          FROM cg GROUP BY doc_id),
        r AS (
          SELECT doc_id, CAST(maxc AS DOUBLE) / n2 AS top2_frac,
            CAST(dupc AS DOUBLE) / n2 AS dup2_frac FROM ra),
        q AS (
          SELECT doc_id, lang, md5(text) AS h,
            0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
              + 0.4 * (1.0 - CAST(len(list_filter(toks,
                  t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
                  / len(toks))
              + 0.3 * least(1.0, CAST(length(text) AS DOUBLE) / 256.0)
              AS quality
          FROM d)
        SELECT q.doc_id, q.lang, q.quality, r.top2_frac, r.dup2_frac,
          q.doc_id = k.keep_id AS dedup_keeper,
          q.quality >= 0.5 AS quality_ok,
          (r.top2_frac <= 0.2 AND r.dup2_frac <= 0.6) AS not_repetitive,
          (q.doc_id = k.keep_id AND q.quality >= 0.5
            AND r.top2_frac <= 0.2 AND r.dup2_frac <= 0.6) AS kept
        FROM q JOIN keeper k USING (h) JOIN r USING (doc_id)
        ORDER BY q.doc_id""")),

    // ---- model-based quality classifier (CCNet/fastText-style LLR) -----
    // The learned quality filter every pretraining pipeline runs after
    // the heuristic gates (Wenzek et al., CCNet 2020; fastText linear
    // classifiers): label a reference subset as high-quality (here:
    // source buckets src0..src9, the same split m15 uses), fit a
    // Laplace-smoothed per-token log-likelihood ratio
    //   w(tok) = ln((c_pos+1)/(N_pos+V)) - ln((c_neg+1)/(N_neg+V))
    // and score each document by its mean token weight — exactly a
    // binary Naive-Bayes / linear-in-token-counts classifier.
    //
    // Scale shape: ONE explode of the corpus tokens feeds both the
    // training counts (a vocabulary-sized partial agg) and the scoring
    // join; the totals row rides a broadcast cross join (never a
    // collect). The vocabulary⋈tokens join is an equi-join on the token
    // — linear in corpus size. At 100 TB the model would be fit once on
    // a sample and broadcast as a weights table; the fit-on-the-fly
    // form here exercises the same plan with the training pass fused in.
    // Float discipline = x14's: both engines run the identical
    // elementary-op sequence (long adds → double divide → ln →
    // subtract → avg), rounded to 6 decimals.
    Q("x17_quality_classifier",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .withColumn("pos",
            expr("try_cast(substring(source, 4, 10) AS INT) < 10"))
          .select($"doc_id", $"pos", explode(TextOps.tokens($"text")).as("tok"))
        val counts = toks.groupBy($"tok").agg(
          sum(when($"pos", 1L).otherwise(0L)).as("cp"),
          sum(when(!$"pos", 1L).otherwise(0L)).as("cn"))
        val tot = counts.agg(sum($"cp").as("np"), sum($"cn").as("nn"),
          count(lit(1)).as("v"))
        val w = counts.crossJoin(broadcast(tot)).select($"tok",
          (log(($"cp" + 1L).cast("double") / ($"np" + $"v").cast("double"))
            - log(($"cn" + 1L).cast("double") / ($"nn" + $"v").cast("double")))
            .as("wt"))
        toks.join(w, "tok")
          .groupBy($"doc_id", $"pos")
          .agg(count(lit(1)).as("n_toks"), round(avg($"wt"), 6).as("score"))
          .select($"doc_id", $"pos".as("is_reference"), $"n_toks", $"score",
            ($"score" > 0.0).as("predicted_hq"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, TRY_CAST(substr(source, 4) AS INT) < 10 AS pos,
            unnest($duckToks) AS tok FROM documents),
        c AS (SELECT tok,
            SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
            SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
          FROM toks GROUP BY tok),
        t AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
            CAST(SUM(cn) AS BIGINT) AS nn, count(*) AS v FROM c),
        w AS (SELECT tok,
            ln(CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE))
              - ln(CAST(cn + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE)) AS wt
          FROM c CROSS JOIN t)
        SELECT doc_id, pos AS is_reference, count(*) AS n_toks,
          round(avg(wt), 6) AS score, round(avg(wt), 6) > 0.0 AS predicted_hq
        FROM toks JOIN w USING (tok)
        GROUP BY doc_id, pos ORDER BY doc_id""")),

    // ---- bigram-LM perplexity (the CCNet/KenLM filtering signal) -------
    // CCNet filters by LM perplexity; the 5-gram KenLM is approximated
    // here by the smallest model that exhibits the same pipeline shape:
    // an interpolated bigram LM fit on the corpus itself,
    //   p(w2|w1) = 0.75·c(w1,w2)/c1(w1) + 0.25·c(w2)/N
    // and per-document cross-entropy H = avg(−ln p), ppl = e^H.
    //
    // Scale shape: bigrams come from a row-local slice/zip (NO window —
    // a per-token lag() would sort-shuffle the corpus); the model is
    // two vocabulary-sized count frames (map-side combined); scoring is
    // two equi-joins on token keys plus a broadcast totals row — all
    // linear in corpus size. At 100 TB the counts are fit on a sample,
    // persisted, and broadcast, exactly like x17's weights.
    // Float discipline: identical op sequence both engines; ppl is
    // exp() of the ALREADY-ROUNDED entropy, so the rounding boundary
    // is crossed before the amplifying exp, never after.
    Q("x18_lm_perplexity",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .filter(size($"toks") >= 2)
        val bi = d.select($"doc_id",
            explode(transform(sequence(lit(1), size($"toks") - 1),
              i => struct(element_at($"toks", i).as("w1"),
                element_at($"toks", i + 1).as("w2")))).as("p"))
          .select($"doc_id", $"p.w1", $"p.w2")
        val cb = bi.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
        val cw = cb.groupBy($"w1").agg(sum($"cb").as("cw"))
        val uni = d.select(explode($"toks").as("w2"))
          .groupBy($"w2").agg(count(lit(1)).as("cu"))
        val tot = uni.agg(sum($"cu").as("n"))
        bi.join(cb, Seq("w1", "w2")).join(cw, Seq("w1"))
          .join(uni, Seq("w2")).crossJoin(broadcast(tot))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(-log(
              lit(0.75) * ($"cb".cast("double") / $"cw".cast("double"))
                + lit(0.25) * ($"cu".cast("double") / $"n".cast("double")))), 6)
              .as("entropy"))
          .select($"doc_id", $"n_bigrams", $"entropy",
            round(exp($"entropy"), 4).as("ppl"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id, toks FROM
            (SELECT doc_id, $duckToks AS toks FROM documents)
          WHERE len(toks) >= 2),
        bi AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
            unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
          FROM d),
        cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
        cw AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM cb GROUP BY w1),
        uni AS (SELECT w2, count(*) AS cu
          FROM (SELECT unnest(toks) AS w2 FROM d) GROUP BY 1),
        t AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
        h AS (
          SELECT doc_id, count(*) AS n_bigrams,
            round(avg(-ln(
              0.75 * (CAST(cb AS DOUBLE) / CAST(cw AS DOUBLE))
                + 0.25 * (CAST(cu AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS entropy
          FROM bi JOIN cb USING (w1, w2) JOIN cw USING (w1)
            JOIN uni USING (w2) CROSS JOIN t
          GROUP BY doc_id)
        SELECT doc_id, n_bigrams, entropy, round(exp(entropy), 4) AS ppl
        FROM h ORDER BY doc_id""")),

    // ---- Kneser–Ney trigram LM (KenLM-parity smoothing) ----------------
    // x18 approximates the CCNet/KenLM filter with an interpolated
    // bigram; THIS is the real smoothing KenLM ships: interpolated
    // Kneser–Ney with absolute discount D = 0.75,
    //   p(w|u,v) = (c(uvw)−D)/c(uv·) + D·N1+(uv·)/c(uv·) · pKN(w|v)
    //   pKN(w|v) = (N1+(·vw)−D)/N1+(·v·) + D·N1+(v·)/N1+(·v·) · pc(w)
    //   pc(w)    = N1+(·w)/N1+(··)          (continuation unigram)
    // Every N1+ is a DISTINCT-context count — the KN insight that a
    // word's backoff mass should reflect how many contexts it appears
    // in, not how often. Self-scoring (model fit on the corpus it
    // scores, like x18) keeps every trigram count ≥ 1, so no term is
    // ever undefined and the whole formula is divisions/multiplies of
    // exact int64 counts and the exactly-representable 0.75, run in
    // ONE spelled-out order on both engines.
    //
    // Scale shape: trigrams come from the same row-local slice as
    // x18's bigrams (no window, no corpus sort); all five count
    // tables are map-side-combined aggregates OF the trigram-count
    // table (not of the stream), so shuffles shrink at each level;
    // scoring is equi-joins on (u,v), (v,w), v, w plus one broadcast
    // total. At 100 TB: fit on a sample, publish, broadcast — the
    // x20/x21 discipline.
    Q("x31_kn_trigram",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .filter(size($"toks") >= 3)
        val tri = d.select($"doc_id",
            explode(transform(sequence(lit(1), size($"toks") - 2),
              i => struct(element_at($"toks", i).as("w1"),
                element_at($"toks", i + 1).as("w2"),
                element_at($"toks", i + 2).as("w3")))).as("t"))
          .select($"doc_id", $"t.w1", $"t.w2", $"t.w3")
        val c3 = tri.groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // trigram context: total + distinct-continuation counts per (u,v)
        val ctx = c3.groupBy($"w1", $"w2")
          .agg(sum($"c3").as("ctx"), count(lit(1)).as("n1p"))
        // continuation bigram level: distinct u preceding each (v,w)
        val nvw = c3.groupBy($"w2", $"w3").agg(count(lit(1)).as("nvw"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nv = nvw.groupBy($"w2")
          .agg(sum($"nvw").as("nv"), count(lit(1)).as("nfv"))
        val ncw = nvw.groupBy($"w3").agg(count(lit(1)).as("ncw"))
        val ntot = nvw.agg(count(lit(1)).as("ntot"))
        val D = lit(0.75)
        val pcont = $"ncw".cast("double") / $"ntot".cast("double")
        val pbi = ($"nvw".cast("double") - D) / $"nv".cast("double") +
          (D * $"nfv".cast("double") / $"nv".cast("double")) * pcont
        val ptri = ($"c3".cast("double") - D) / $"ctx".cast("double") +
          (D * $"n1p".cast("double") / $"ctx".cast("double")) * pbi
        tri.join(c3, Seq("w1", "w2", "w3")).join(ctx, Seq("w1", "w2"))
          .join(nvw, Seq("w2", "w3")).join(nv, Seq("w2")).join(ncw, Seq("w3"))
          .crossJoin(broadcast(ntot))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_trigrams"),
            round(avg(-log(ptri)), 6).as("entropy"))
          .select($"doc_id", $"n_trigrams", $"entropy",
            round(exp($"entropy"), 4).as("ppl"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id, toks FROM
            (SELECT doc_id, $duckToks AS toks FROM documents)
          WHERE len(toks) >= 3),
        tri AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(toks)-1), i -> toks[i])) AS w1,
            unnest(list_transform(range(1, len(toks)-1), i -> toks[i+1])) AS w2,
            unnest(list_transform(range(1, len(toks)-1), i -> toks[i+2])) AS w3
          FROM d),
        c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY w1, w2, w3),
        ctx AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS ctx,
            count(*) AS n1p FROM c3 GROUP BY w1, w2),
        nvw AS (SELECT w2, w3, count(*) AS nvw FROM c3 GROUP BY w2, w3),
        nv AS (SELECT w2, CAST(SUM(nvw) AS BIGINT) AS nv,
            count(*) AS nfv FROM nvw GROUP BY w2),
        ncw AS (SELECT w3, count(*) AS ncw FROM nvw GROUP BY w3),
        t AS (SELECT count(*) AS ntot FROM nvw),
        h AS (
          SELECT doc_id, count(*) AS n_trigrams,
            round(avg(-ln(
              (CAST(c3 AS DOUBLE) - 0.75) / CAST(ctx AS DOUBLE)
                + (0.75 * CAST(n1p AS DOUBLE) / CAST(ctx AS DOUBLE)) *
                  ((CAST(nvw AS DOUBLE) - 0.75) / CAST(nv AS DOUBLE)
                    + (0.75 * CAST(nfv AS DOUBLE) / CAST(nv AS DOUBLE)) *
                      (CAST(ncw AS DOUBLE) / CAST(ntot AS DOUBLE))))), 6)
              AS entropy
          FROM tri JOIN c3 USING (w1, w2, w3) JOIN ctx USING (w1, w2)
            JOIN nvw USING (w2, w3) JOIN nv USING (w2) JOIN ncw USING (w3)
            CROSS JOIN t
          GROUP BY doc_id)
        SELECT doc_id, n_trigrams, entropy, round(exp(entropy), 4) AS ppl
        FROM h ORDER BY doc_id""")),

    // ---- script / charset composition (curation pre-filter) ------------
    // The character-class profile crawl pipelines gate on before any
    // tokenization (CCNet drops pages by non-printable/letter ratios;
    // charset mix also catches mojibake): per-document ratios of
    // ASCII letters, digits, uppercase, whitespace, and non-ASCII code
    // units. Counts come from length(text) − length(regexp_replace):
    // pure codegen'd string ops, zero explode — a per-codepoint
    // transform would allocate an array per row for what a regex scan
    // counts in place. (DuckDB regexp_replace needs the 'g' flag to
    // mirror Spark's replace-all.)
    Q("x19_charset_profile",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .filter(length($"text") > 0)
        def cnt(re: String) =
          length($"text") - length(regexp_replace($"text", re, ""))
        d.select($"doc_id", length($"text").cast("double").as("n"),
            cnt("[A-Za-z]").as("alpha"), cnt("[0-9]").as("digit"),
            cnt("[A-Z]").as("upper"), cnt("[ ]").as("space"),
            cnt("[^\\x00-\\x7f]").as("nonascii"))
          .select($"doc_id",
            round($"alpha" / $"n", 6).as("alpha_ratio"),
            round($"digit" / $"n", 6).as("digit_ratio"),
            round($"upper" / $"n", 6).as("upper_ratio"),
            round($"space" / $"n", 6).as("space_ratio"),
            round($"nonascii" / $"n", 6).as("nonascii_ratio"))
          .withColumn("charset_ok",
            $"alpha_ratio" >= 0.5 && $"nonascii_ratio" <= 0.1)
          .orderBy($"doc_id")
      },
      Some("""WITH c AS (
          SELECT doc_id, CAST(length(text) AS DOUBLE) AS n,
            length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS alpha,
            length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
            length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS upper,
            length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS space,
            length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) AS nonascii
          FROM documents WHERE length(text) > 0)
        SELECT doc_id,
          round(alpha / n, 6) AS alpha_ratio,
          round(digit / n, 6) AS digit_ratio,
          round(upper / n, 6) AS upper_ratio,
          round(space / n, 6) AS space_ratio,
          round(nonascii / n, 6) AS nonascii_ratio,
          (round(alpha / n, 6) >= 0.5 AND round(nonascii / n, 6) <= 0.1)
            AS charset_ok
        FROM c ORDER BY doc_id""")),

    // ---- x17's weights, PERSISTED then served (the 100 TB shape) -------
    // x17 fits its LLR weights fused into the scoring plan; at 100 TB
    // the model is fit ONCE on a labeled sample, published as a table,
    // and every later corpus slice is scored from the LOADED weights —
    // the d11/sim5 discipline applied to a text model. Here the
    // weights are fit on the doc_id < 250 sample, go through the
    // manifest Warehouse (parquet round-trip — doubles survive
    // bit-exactly), and score the DISJOINT doc_id ≥ 250 slice by one
    // broadcast equi-join against the loaded table: scoring touches no
    // training doc and re-derives nothing. The oracle re-fits the same
    // weights inline — hash-match proves the persisted path changes
    // no bit of any score. Unseen tokens drop at the inner join, the
    // standard vocabulary-gated scoring semantics.
    Q("x20_model_persist_score",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source", TextOps.tokens($"text").as("toks"))
        val train = docs.filter($"doc_id" < 250)
          .withColumn("pos",
            expr("try_cast(substring(source, 4, 10) AS INT) < 10"))
          .select($"pos", explode($"toks").as("tok"))
        val counts = train.groupBy($"tok").agg(
          sum(when($"pos", 1L).otherwise(0L)).as("cp"),
          sum(when(!$"pos", 1L).otherwise(0L)).as("cn"))
        val tot = counts.agg(sum($"cp").as("np"), sum($"cn").as("nn"),
          count(lit(1)).as("v"))
        val w = counts.crossJoin(broadcast(tot)).select($"tok",
          (log(($"cp" + 1L).cast("double") / ($"np" + $"v").cast("double"))
            - log(($"cn" + 1L).cast("double") / ($"nn" + $"v").cast("double")))
            .as("wt"))
        val wh = graft.sources.Scratch.warehouse(s, "llrw")
        wh.atomicPublish("llr_weights", w)
        val weights = wh.read("llr_weights")
        docs.filter($"doc_id" >= 250)
          .select($"doc_id", explode($"toks").as("tok"))
          .join(broadcast(weights), "tok")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_toks"), round(avg($"wt"), 6).as("score"))
          .select($"doc_id", $"n_toks", $"score",
            ($"score" > 0.0).as("predicted_hq"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH train AS (
          SELECT TRY_CAST(substr(source, 4) AS INT) < 10 AS pos,
            unnest($duckToks) AS tok FROM documents WHERE doc_id < 250),
        c AS (SELECT tok,
            SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
            SUM(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
          FROM train GROUP BY tok),
        t AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
            CAST(SUM(cn) AS BIGINT) AS nn, count(*) AS v FROM c),
        w AS (SELECT tok,
            ln(CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE))
              - ln(CAST(cn + 1 AS DOUBLE) / CAST(nn + v AS DOUBLE)) AS wt
          FROM c CROSS JOIN t),
        eval AS (
          SELECT doc_id, unnest($duckToks) AS tok
          FROM documents WHERE doc_id >= 250)
        SELECT doc_id, count(*) AS n_toks, round(avg(wt), 6) AS score,
          round(avg(wt), 6) > 0.0 AS predicted_hq
        FROM eval JOIN w USING (tok)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- x18's LM counts, PERSISTED then served ------------------------
    // Same discipline for the perplexity model: the bigram/unigram
    // count frames and the totals row are fit on the doc_id < 250
    // sample, published as FOUR tables (lm_cb, lm_cw, lm_uni, lm_tot),
    // and the disjoint slice is scored entirely from the loaded
    // tables — two equi-joins plus a broadcast 1-row totals table.
    // Bigrams unseen in training drop at the inner join (n_bigrams
    // counts SCORED bigrams), exactly what the oracle's inline re-fit
    // computes.
    Q("x21_lm_persist_score",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .filter(size($"toks") >= 2)
        def bigrams(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
            explode(transform(sequence(lit(1), size($"toks") - 1),
              i => struct(element_at($"toks", i).as("w1"),
                element_at($"toks", i + 1).as("w2")))).as("p"))
          .select($"doc_id", $"p.w1", $"p.w2")
        // tokenize the training slice ONCE (all four model tables
        // derive from it), publish lm_cb first (materializes the
        // cache), then overlap the three remaining independent
        // publishes — the publishBm25 pattern (guide §1.2 + §2.6)
        val train = d.filter($"doc_id" < 250).persist()
        val cb = bigrams(train).groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
        val cw = cb.groupBy($"w1").agg(sum($"cb").as("cw"))
        val uni = train.select(explode($"toks").as("w2"))
          .groupBy($"w2").agg(count(lit(1)).as("cu"))
        val tot = uni.agg(sum($"cu").as("n"))
        val wh = graft.sources.Scratch.warehouse(s, "lmidx")
        wh.atomicPublish("lm_cb", cb)
        wh.atomicPublishAll(Seq("lm_cw" -> cw, "lm_uni" -> uni, "lm_tot" -> tot))
        train.unpersist()
        bigrams(d.filter($"doc_id" >= 250))
          .join(wh.read("lm_cb"), Seq("w1", "w2"))
          .join(wh.read("lm_cw"), Seq("w1"))
          .join(wh.read("lm_uni"), Seq("w2"))
          .crossJoin(broadcast(wh.read("lm_tot")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(-log(
              lit(0.75) * ($"cb".cast("double") / $"cw".cast("double"))
                + lit(0.25) * ($"cu".cast("double") / $"n".cast("double")))), 6)
              .as("entropy"))
          .select($"doc_id", $"n_bigrams", $"entropy",
            round(exp($"entropy"), 4).as("ppl"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH d AS (
          SELECT doc_id, toks FROM
            (SELECT doc_id, $duckToks AS toks FROM documents)
          WHERE len(toks) >= 2),
        tr AS (SELECT doc_id, toks FROM d WHERE doc_id < 250),
        bi_t AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
            unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
          FROM tr),
        cb AS (SELECT w1, w2, count(*) AS cb FROM bi_t GROUP BY w1, w2),
        cw AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM cb GROUP BY w1),
        uni AS (SELECT w2, count(*) AS cu
          FROM (SELECT unnest(toks) AS w2 FROM tr) GROUP BY 1),
        t AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uni),
        bi_e AS (
          SELECT doc_id,
            unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
            unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
          FROM d WHERE doc_id >= 250),
        h AS (
          SELECT doc_id, count(*) AS n_bigrams,
            round(avg(-ln(
              0.75 * (CAST(cb AS DOUBLE) / CAST(cw AS DOUBLE))
                + 0.25 * (CAST(cu AS DOUBLE) / CAST(n AS DOUBLE)))), 6) AS entropy
          FROM bi_e JOIN cb USING (w1, w2) JOIN cw USING (w1)
            JOIN uni USING (w2) CROSS JOIN t
          GROUP BY doc_id)
        SELECT doc_id, n_bigrams, entropy, round(exp(entropy), 4) AS ppl
        FROM h ORDER BY doc_id""")),

    // ---- Zipf frequency spectrum (frequency-of-frequencies) ------------
    // Corpus vocabulary health signal (the Zipf/Heaps curve every
    // corpus report plots): term counts, then how many distinct terms
    // occur exactly f times. Two partial-aggregated shuffles — the
    // first keyed by token (map-side combined), the second keyed by
    // frequency, whose key space is tiny (distinct frequencies grow
    // ~log corpus) — so at 100 TB the cost is one token-keyed pass.
    Q("x22_freq_spectrum",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select(explode(TextOps.tokens($"text")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("freq"))
          .groupBy($"freq").agg(count(lit(1)).as("n_terms"))
          .orderBy($"freq")
      },
      Some(s"""WITH f AS (
          SELECT tok, count(*) AS freq FROM (
            SELECT unnest($duckToks) AS tok FROM documents)
          GROUP BY tok)
        SELECT freq, count(*) AS n_terms FROM f GROUP BY freq
        ORDER BY freq""")),

    // ---- cross-source shingle overlap matrix (corpus contamination) ----
    // Which sources share content? The source-level contamination
    // matrix (same question x15 answers doc-vs-benchmark, asked
    // pairwise across the corpus's own sources). Distinct
    // (source, 3-gram) stream → per-shingle source set → pairs
    // exploded from each set → per-pair counts; Jaccard from broadcast
    // per-source set sizes. Linear in corpus size: NO shingle
    // self-join — the per-shingle pair fan-out is bounded by
    // |sources|² and `source` is a dimension (~20 values), not data;
    // the collect_set buffer is bounded the same way.
    Q("x23_source_overlap",
      (s, dir) => {
        import s.implicits._
        val grams = Tables.load(s, dir, "documents")
          .select($"source", explode(NativeExprs.shingles3(s, $"text")).as("g"))
          .distinct()
        val sizes = grams.groupBy($"source").agg(count(lit(1)).as("n"))
        val pairs = grams.groupBy($"g").agg(collect_set($"source").as("raw"))
          .filter(size($"raw") >= 2)
          .select(array_sort($"raw").as("ss"))
          .select(explode(expr(
            """flatten(transform(ss, (a, i) ->
                 transform(slice(ss, i + 2, size(ss)),
                   b -> named_struct('src_a', a, 'src_b', b))))""")).as("p"))
          .select($"p.src_a", $"p.src_b")
          .groupBy($"src_a", $"src_b").agg(count(lit(1)).as("n_common"))
        pairs
          .join(broadcast(sizes.select($"source".as("src_a"), $"n".as("na"))), "src_a")
          .join(broadcast(sizes.select($"source".as("src_b"), $"n".as("nb"))), "src_b")
          .select($"src_a", $"src_b", $"n_common",
            ($"n_common".cast("double") / ($"na" + $"nb" - $"n_common")).as("jaccard"))
          .orderBy($"src_a", $"src_b")
      },
      Some(s"""WITH sh AS (
          SELECT source, list_distinct(CASE WHEN len(toks) < 3 THEN []
            ELSE list_transform(range(1, len(toks)-1),
              i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) END) AS shs
          FROM (SELECT source, $duckToks AS toks FROM documents)),
        g AS (SELECT DISTINCT source, g FROM
          (SELECT source, unnest(shs) AS g FROM sh)),
        sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        p AS (SELECT a.source AS src_a, b.source AS src_b,
            count(*) AS n_common
          FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, n_common,
          CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM p JOIN sz sa ON p.src_a = sa.source
          JOIN sz sb ON p.src_b = sb.source
        ORDER BY src_a, src_b""")),

    // ---- Heaps'-law vocabulary growth curve ----------------------------
    // x22's Zipf spectrum says how often terms repeat; this says how
    // fast NEW terms keep arriving — the other axis of every corpus
    // vocabulary report (sub-linear growth ⇒ healthy natural text;
    // near-linear ⇒ ids/noise inflating the vocab). Measured over the
    // 3-gram shingle vocabulary (x23's unit — the corpus's word-level
    // vocab is too small to curve). One shingle-keyed partial agg
    // (shingle → first doc that introduces it), then counts per
    // 50-doc ingest step and a running sum over the step rows alone —
    // the window's input is corpus_size/50 rows (dashboard size),
    // never the corpus, so the single-task window is free at 100 TB
    // while the heavy lifting stays map-side combined.
    Q("x24_vocab_growth",
      (s, dir) => {
        import s.implicits._
        val first = Tables.load(s, dir, "documents")
          .select($"doc_id", explode(NativeExprs.shingles3(s, $"text")).as("g"))
          .groupBy($"g").agg(min($"doc_id").as("first_doc"))
        first
          .groupBy((floor($"first_doc" / 50) * 50 + 50).cast("long").as("n_docs"))
          .agg(count(lit(1)).as("new_terms"))
          .withColumn("vocab",
            sum($"new_terms").over(Window.orderBy($"n_docs")))
          .orderBy($"n_docs")
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN []
            ELSE list_transform(range(1, len(toks)-1),
              i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) END) AS g
          FROM (SELECT doc_id, $duckToks AS toks FROM documents)),
        tf AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g),
        b AS (SELECT (first_doc // 50) * 50 + 50 AS n_docs,
            count(*) AS new_terms FROM tf GROUP BY 1)
        SELECT n_docs, new_terms,
          CAST(SUM(new_terms) OVER (ORDER BY n_docs) AS BIGINT) AS vocab
        FROM b ORDER BY n_docs""")),

    // ---- BM25 keyword retrieval: top-10 docs for a 3-term query --------
    // Completes the retrieval story next to x7 (TF-IDF keyword
    // EXTRACTION ranks terms within a doc; BM25 ranks DOCS for a
    // query — Robertson & Zaragoza 2009, k1=1.2 b=0.75). Engine-parity
    // discipline: the usual ln() idf is replaced by the monotone
    // rational idf (2(N−df)+1)/(2df+1) (the same odds ratio without
    // the log — libm last-ulp divergence is the only thing the log
    // adds at ranking time), and the per-term saturation is scaled
    // through by 10·L (avgdl = L/N folded in) so every operand is an
    // exact int64: score_t = idf · 22·tf·L / (10·tf·L + 3·L + 9·dl·N).
    // Both engines then run the IDENTICAL IEEE sequence — two exact
    // int64→double casts, two divisions, one multiply per term, and a
    // fixed-order 3-term add via a CASE pivot (never a SUM over
    // engine-chosen order) — so the double score is bit-identical and
    // sits on the hash surface directly. Scale shape: the isin filter
    // lands BEFORE the tf groupBy, so only the query terms' postings
    // ever shuffle (at 100 TB you'd serve this from a persisted
    // inverted index — the d11/sim5 publish pattern); df and the
    // corpus totals are broadcast scalars; top-10 plans as
    // TakeOrderedAndProject (per-partition heads + one merge), never
    // a global sort or single-partition window.
    Q("x25_bm25_topk",
      (s, dir) => {
        import s.implicits._
        val qterms = Seq("dup", "vector", "join") // rare → common df
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
        val dl = d.select($"doc_id", size($"toks").cast("long").as("dl"))
        val tot = dl.agg(count(lit(1)).as("nd"), sum($"dl").as("lsum"))
        val tf = d.select($"doc_id", explode($"toks").as("term"))
          .filter($"term".isin(qterms: _*))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val sc = tf.join(broadcast(dfq), "term").join(dl, "doc_id")
          .crossJoin(broadcast(tot))
          .withColumn("sterm", bm25Sterm)
        bm25TopK(sc, qterms)
      },
      Some(bm25OracleSql)),

    // ---- BM25 served from a PUBLISHED inverted index -------------------
    // x25's scale claim, proven the d11/sim5/x20 way: the one-time
    // batch job builds the FULL-vocabulary index — (term, doc_id, tf)
    // postings, (term, df) dictionary, per-doc lengths, and the 1-row
    // corpus totals — and publishes all four through the manifest
    // Warehouse; the query then scores ONLY from the loaded tables.
    // The serve-side plan is what makes this an index: the postings
    // scan carries the query terms as a pushed parquet filter (only
    // the 3 terms' posting rows are read — per-query cost scales with
    // posting-list length, not corpus size), the dictionary and
    // totals are broadcast, and the identical bm25Sterm/bm25TopK op
    // sequence makes the served scores bit-equal to x25's inline fit
    // — so the oracle is x25's verbatim.
    Q("x26_bm25_index_serve",
      (s, dir) => {
        import s.implicits._
        val qterms = Seq("dup", "vector", "join")
        val wh = buildBm25Index(s, dir, "bm25ix")
        val sc = servedSterms(wh, qterms)
        bm25TopK(sc, qterms)
      },
      Some(bm25OracleSql)),

    // ---- batch BM25 serve: a TABLE of queries against one index --------
    // x26 serves one query; production retrieval serves thousands per
    // index scan. The batch is a (query_id, pos, term) table joined
    // against the SAME published index — per-term scores compute once
    // per (term, doc) and fan out to every query containing the term
    // via one broadcast join, so 1 query or 10 000 queries cost one
    // postings pass over the UNION of their terms. The postings scan
    // still carries that union as a pushed In() filter (driver-known:
    // the batch is the query input), the per-query accumulation is the
    // same fixed-pos CASE pivot as bm25TopK (bit-stable sum order),
    // and per-query top-5 is a query-partitioned window — parallel in
    // queries, never a global sort.
    Q("x27_bm25_batch_serve",
      (s, dir) => {
        import s.implicits._
        val batch = Seq( // (query_id, pos, term)
          (1L, 0, "dup"), (1L, 1, "vector"), (1L, 2, "join"),
          (2L, 0, "sort"), (2L, 1, "merge"), (2L, 2, "batch"),
          (3L, 0, "stream"), (3L, 1, "window"), (3L, 2, "group"))
        val allTerms = batch.map(_._3).distinct
        val wh = buildBm25Index(s, dir, "bm25bx")
        val sc = servedSterms(wh, allTerms)
          .join(broadcast(batch.toDF("query_id", "pos", "term")), "term")
        def pick(p: Int) =
          coalesce(max(when($"pos" === p, $"sterm")), lit(0.0))
        val scored = sc.groupBy($"query_id", $"doc_id")
          .agg(pick(0).as("s0"), pick(1).as("s1"), pick(2).as("s2"))
          .select($"query_id", $"doc_id",
            ($"s0" + $"s1" + $"s2").as("score"))
        val w = Window.partitionBy($"query_id")
          .orderBy($"score".desc, $"doc_id")
        scored.withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 5)
          .orderBy($"query_id", $"rnk")
      },
      Some(s"""WITH d AS (SELECT doc_id, $duckToks AS toks FROM documents),
          dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
              CAST(SUM(dl) AS BIGINT) AS lsum FROM dl),
          q(query_id, pos, term) AS (VALUES
            (1, 0, 'dup'), (1, 1, 'vector'), (1, 2, 'join'),
            (2, 0, 'sort'), (2, 1, 'merge'), (2, 2, 'batch'),
            (3, 0, 'stream'), (3, 1, 'window'), (3, 2, 'group')),
          tf AS (SELECT doc_id, term, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d)
            WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          sc AS (SELECT tf.doc_id, tf.term,
              (CAST(2 * (nd - df) + 1 AS DOUBLE) /
                CAST(2 * df + 1 AS DOUBLE)) *
              (CAST(22 * tf * lsum AS DOUBLE) /
                CAST(10 * tf * lsum + 3 * lsum + 9 * dl * nd AS DOUBLE)) AS sterm
            FROM tf JOIN dfq USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN tot),
          p AS (SELECT q.query_id, sc.doc_id,
              COALESCE(MAX(CASE WHEN q.pos = 0 THEN sterm END), 0.0) AS s0,
              COALESCE(MAX(CASE WHEN q.pos = 1 THEN sterm END), 0.0) AS s1,
              COALESCE(MAX(CASE WHEN q.pos = 2 THEN sterm END), 0.0) AS s2
            FROM sc JOIN q ON sc.term = q.term
            GROUP BY q.query_id, sc.doc_id),
          r AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
              s0 + s1 + s2 AS score,
              row_number() OVER (PARTITION BY query_id
                ORDER BY s0 + s1 + s2 DESC, doc_id) AS rnk
            FROM p)
          SELECT query_id, doc_id, score, CAST(rnk AS INT) AS rnk
          FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""")),

    // ---- index DELETION folded through the served BM25 tables ----------
    // The op a served index needs that a rebuild-the-world batch job
    // doesn't: remove k docs and keep serving, without rescanning the
    // RAW CORPUS. One bounded pass over the DELETED docs' postings
    // derives every decrement (applyBm25Deletes: per-term df drops,
    // dict rows hitting zero removed, the 1-row totals lose the
    // deleted docs' counts), then postings and doc-lengths FOLD the
    // doomed rows out via the warehouse's S9 anti-join delete. The
    // fold rewrites those two index tables — the maintenance-window
    // shape (run it like compaction); x30 is the serve-time
    // merge-on-read alternative whose delete cost is only the
    // tombstone publish. Correctness bar (the point of the oracle):
    // the surviving index must be INDISTINGUISHABLE from a fresh
    // build on the reduced corpus — the oracle rebuilds from
    // `documents` minus the same ids and the driver hash-compares the
    // served scores.
    Q("x28_bm25_index_delete",
      (s, dir) => {
        import s.implicits._
        val qterms = Seq("dup", "vector", "join")
        val wh = buildBm25Index(s, dir, "bm25dx")
        // doomed ids: deterministic, ~1/7 of the corpus
        val doomed = wh.read("bm25_doclen")
          .filter($"doc_id" % 7 === 0).select($"doc_id")
        applyBm25Deletes(wh, doomed)
        wh.delete("bm25_postings", doomed, Seq("doc_id"))
        wh.delete("bm25_doclen", doomed, Seq("doc_id"))
        // re-probe the surviving index — same serve path as x26
        val sc = servedSterms(wh, qterms)
        bm25TopK(sc, qterms)
      },
      Some(bm25ReducedOracleSql)),

    // ---- incremental BM25 ADD — x28's other direction ------------------
    // New docs arrive after the index is built. The batch's postings
    // and lengths APPEND (new doc ids — no key overlap, and the
    // manifest append only references old files, never rewrites them);
    // the dictionary takes per-term df INCREMENTS via one full-outer
    // merge (new terms enter, cost ∝ |dict|+|batch vocab|, never the
    // corpus); the 1-row totals add the batch's counts. Correctness
    // bar, same as x28: the incremented index must be
    // INDISTINGUISHABLE from a full rebuild — the oracle is x25's
    // full-corpus SQL verbatim, so the driver hash-proves convergence.
    // This is the batch half of continuous text indexing (the vector
    // half is streaming/StreamingIndex.indexMaintain): at 100 TB the
    // daily ingest appends its delta and merges the vocab-sized dict,
    // and compaction (Warehouse.compact, m30) later folds the
    // accumulated small postings files.
    Q("x29_bm25_incremental",
      (s, dir) => {
        import s.implicits._
        val qterms = Seq("dup", "vector", "join")
        val d = docToks(s, dir)
        val wh = graft.sources.Scratch.warehouse(s, "bm25inc")
        // base index over the corpus as of yesterday
        publishBm25(wh, d.filter($"doc_id" < 350))
        // today's batch: the remaining docs, derived and merged in
        incrementBm25(wh, d.filter($"doc_id" >= 350))
        val sc = servedSterms(wh, qterms)
        bm25TopK(sc, qterms)
      },
      Some(bm25OracleSql)),

    // ---- MERGE-ON-READ deletion: tombstones, no index rewrite ----------
    // x28's fold rewrites the two corpus-sized index tables — fine in
    // a maintenance window, wrong at delete time on a 100 TB index.
    // The Delta/Iceberg deletion-vector shape instead: the delete
    // publishes ONLY the tombstone id set (cost ∝ |deleted|, one tiny
    // table) plus the vocab-bounded dict/totals decrements
    // (applyBm25Deletes — scoring must see the reduced df/N
    // immediately); postings and doc-lengths are NOT touched. Serving
    // anti-joins the broadcast tombstones into the postings read —
    // the per-query cost adds one broadcast probe. The fold (x28's
    // wh.delete pair) then runs later as scheduled maintenance, like
    // compaction. Same oracle as x28: served scores must be
    // hash-identical to a fresh build on the reduced corpus, proving
    // merge-on-read and eager-fold serve the SAME index.
    Q("x30_bm25_tombstone_serve",
      (s, dir) => {
        import s.implicits._
        val qterms = Seq("dup", "vector", "join")
        val wh = buildBm25Index(s, dir, "bm25ts")
        val doomed = wh.read("bm25_doclen")
          .filter($"doc_id" % 7 === 0).select($"doc_id")
        wh.atomicPublish("bm25_tombstones", doomed)
        applyBm25Deletes(wh, doomed)
        val sc = servedSterms(wh, qterms,
          tombstones = Some(wh.read("bm25_tombstones")))
        bm25TopK(sc, qterms)
      },
      Some(bm25ReducedOracleSql)),

    // ---- scalable exact heavy hitters: MG sketch pass + recount --------
    // x10's exact groupBy shuffles the FULL vocabulary — at 100 TB
    // that is billions of distinct terms crossing the wire to find a
    // handful of hitters. The two-pass shape (Misra–Gries candidates,
    // then exact recount) keeps the first pass shuffle-free: the
    // mergeable MG sketch (operators/MisraGriesAgg, bound N/(k+1))
    // reduces each partition to one ≤ 63-counter map and merges them
    // in the partial-agg tree, so with the 2 % threshold (> N/64) the
    // candidate list PROVABLY contains every true hitter. The second
    // pass recounts only candidates — the In() filter prunes at the
    // scan — so the output is EXACT, not approximate: identical to the
    // full groupBy, at the shuffle cost of ≤ 63 terms. The driver
    // collect is the bounded candidate list (≤ 63 strings), the same
    // bounded-probe discipline as the serve paths.
    Q("x32_mg_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select(explode(TextOps.tokens($"text")).as("term"))
        val mg = udaf(new graft.operators.MisraGriesAgg(63))
        val row = toks.agg(mg($"term").as("cand"), count(lit(1)).as("n")).head()
        val cand = row.getSeq[String](0)
        val n = row.getLong(1)
        // integer-exact threshold: cnt/N ≥ 2 % ⇔ 50·cnt ≥ N — no
        // double ratio on the comparison, so the cut never flips on a
        // borderline term on either engine
        toks.filter($"term".isin(cand: _*))
          .groupBy($"term").agg(count(lit(1)).as("cnt"))
          .filter($"cnt" * 50 >= n)
          .select($"term", $"cnt", lit(n).as("total"))
          .orderBy($"cnt".desc, $"term")
      },
      Some(s"""WITH tok AS (SELECT unnest($duckToks) AS term FROM documents),
          tot AS (SELECT count(*) AS n FROM tok)
        SELECT term, CAST(count(*) AS BIGINT) AS cnt, n AS total
        FROM tok, tot GROUP BY term, n
        HAVING count(*) * 50 >= n
        ORDER BY cnt DESC, term""")),

    // ---- Bloom-gated decontamination: x15's exact check, prefiltered -
    // The scale form of benchmark decontamination: the bench set's
    // 3-gram shingles build a broadcast Bloom filter, and the CORPUS
    // side probes it with the codegen'd BloomMightContainExpr before
    // anything shuffles — only the might-contain tail (true hits +
    // fpp) reaches the exact confirm join, where Bloom false
    // positives die. The result is therefore EXACTLY the declarative
    // n-gram-overlap answer (the oracle states it with no Bloom),
    // while the join input shrinks from every corpus shingle to the
    // contaminated fraction — at 100 TB the filter is an O(1)
    // map-side probe and the exact join touches only suspects. Same
    // two-phase shape as d10's incremental dedup, applied to the
    // x15 contamination semantics.
    Q("x33_bloom_decontaminate",
      (s, dir) => {
        import s.implicits._
        val sh = Dedup.shingledFrom(Tables.load(s, dir, "documents"))
        val bench = sh.filter($"doc_id" % 97 === 0)
          .select($"doc_id".as("bench_id"), explode($"shs").as("sh"))
        val bloom = bench.stat.bloomFilter("sh", 20000L, 0.01)
        val bc = s.sparkContext.broadcast(bloom)
        val might = coalesce(
          NativeExprs.bloomMightContain(s, bc, $"sh"), lit(false))
        sh.filter($"doc_id" % 97 =!= 0)
          .select($"doc_id", explode($"shs").as("sh"))
          .filter(might)
          .join(broadcast(bench), "sh")
          .groupBy($"doc_id", $"bench_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter($"n_shared" >= 2)
          .orderBy($"doc_id", $"bench_id")
      },
      Some(s"""WITH sh AS (
          SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
            ELSE list_transform(range(1, len(toks)-1),
              i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) END)
            AS shs
          FROM (SELECT doc_id, $duckToks AS toks FROM documents)),
        b AS (SELECT doc_id AS bench_id, unnest(shs) AS sh
          FROM sh WHERE doc_id % 97 = 0),
        c AS (SELECT doc_id, unnest(shs) AS sh
          FROM sh WHERE doc_id % 97 <> 0)
        SELECT c.doc_id, b.bench_id, count(*) AS n_shared
        FROM c JOIN b USING (sh)
        GROUP BY c.doc_id, b.bench_id
        HAVING count(*) >= 2
        ORDER BY c.doc_id, b.bench_id""")),

    // ---- PMI collocations over ADJACENT bigrams ----------------------
    // The collocation detector (Church & Hanks 1990): pointwise mutual
    // information ln(N·c_ab / (c_a·c_b)) for adjacent token pairs —
    // adjacency keeps the pair stream LINEAR in corpus size (an
    // all-pairs window would be quadratic per document), unigram and
    // bigram counts partial-aggregate, and the one-row totals ride a
    // broadcast cross join (the x10 shape). The c_ab ≥ 5 support
    // floor is the standard guard against PMI's low-count bias. PMI
    // rounds to 6 decimals (x14 ulp rule for the ln).
    Q("x40_pmi_collocations",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id", TextOps.tokens($"text").as("tk"))
        val uni = toks.select(explode($"tk").as("t"))
          .groupBy($"t").agg(count(lit(1)).as("c"))
        val nTot = uni.agg(sum($"c").as("n"))
        val bi = toks.select(explode(expr(
            "transform(sequence(0, size(tk) - 2), " +
            "i -> struct(tk[i] as x, tk[i + 1] as y))")).as("p"))
          .groupBy($"p.x".as("x"), $"p.y".as("y"))
          .agg(count(lit(1)).as("c_ab"))
          .filter($"c_ab" >= 5)
        bi.join(uni.select($"t".as("x"), $"c".as("c_a")), "x")
          .join(uni.select($"t".as("y"), $"c".as("c_b")), "y")
          .crossJoin(broadcast(nTot))
          .select($"x", $"y", $"c_ab",
            round(log($"c_ab".cast("double") * $"n" /
              ($"c_a" * $"c_b")), 6).as("pmi"))
          .orderBy($"pmi".desc, $"x", $"y")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $duckToks AS tk FROM documents),
        uni AS (SELECT t, count(*) AS c FROM (
          SELECT unnest(tk) AS t FROM tk) GROUP BY t),
        n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        bi AS (SELECT tk[i] AS x, tk[i+1] AS y, count(*) AS c_ab
          FROM tk, unnest(range(1, len(tk))) u(i)
          GROUP BY 1, 2 HAVING count(*) >= 5)
        SELECT x, y, c_ab,
          round(ln(CAST(c_ab AS DOUBLE) * n / (a.c * b.c)), 6) AS pmi
        FROM bi JOIN uni a ON a.t = bi.x JOIN uni b ON b.t = bi.y
        CROSS JOIN n
        ORDER BY pmi DESC, x, y""")),

    // ---- Cohen's kappa: labeler agreement beyond chance --------------
    // The agreement metric for any two corpus labelers — here x3's
    // lexicon language-ID against the ground-truth lang column. The
    // confusion marginals are two partial-agg passes over per-doc
    // labels; kappa = (p_o − p_e)/(1 − p_e) stays integer-exact until
    // the final divisions (the same elementary double ops on both
    // engines — no rounding on the hash surface). The prediction is
    // x3's exact argmax (score desc, lang asc), so this row also pins
    // the classifier's full confusion behavior, not just its top-line
    // accuracy.
    Q("x38_cohen_kappa",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val lex = s.createDataFrame(lexicon).toDF("pred_lang", "tok")
        val hits = docs
          .select($"doc_id",
            explode(array_distinct(TextOps.tokens($"text"))).as("tok"))
          .join(broadcast(lex), "tok")
          .groupBy($"doc_id", $"pred_lang")
          .agg(count(lit(1)).as("score"))
        val w = Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"pred_lang")
        val pred = hits.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1).select($"doc_id", $"pred_lang")
        val lab = docs.select($"doc_id", $"lang")
          .join(pred, Seq("doc_id"), "left")
          .select($"lang", coalesce($"pred_lang", lit("und")).as("pred"))
          .persist()
        val n = lab.count().toDouble
        val po = lab.filter($"lang" === $"pred").count() / n
        val pe = lab.groupBy($"lang").agg(count(lit(1)).as("na"))
          .join(lab.groupBy($"pred".as("lang"))
            .agg(count(lit(1)).as("nb")), "lang")
          .agg(sum($"na" * $"nb").as("s")).collect()(0).getLong(0) / (n * n)
        lab.unpersist()
        Seq((n.toLong, po, pe, (po - pe) / (1.0 - pe)))
          .toDF("n", "p_observed", "p_expected", "kappa")
      },
      Some {
        val vals = lexicon.map { case (l, t) => s"('$l','$t')" }.mkString(", ")
        s"""WITH lx(pred_lang, tok) AS (VALUES $vals),
          hits AS (
            SELECT doc_id, pred_lang, count(*) AS score
            FROM (SELECT doc_id,
                unnest(list_distinct($duckToks)) AS tok FROM documents) t
            JOIN lx USING (tok) GROUP BY 1, 2),
          pred AS (SELECT doc_id, pred_lang FROM (
            SELECT doc_id, pred_lang, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, pred_lang) AS rn
            FROM hits) WHERE rn = 1),
          lab AS (SELECT d.lang, coalesce(p.pred_lang, 'und') AS pred
            FROM documents d LEFT JOIN pred p USING (doc_id)),
          m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
              sum(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS agree
            FROM lab),
          e AS (SELECT CAST(sum(na * nb) AS BIGINT) AS s FROM
            (SELECT lang, count(*) AS na FROM lab GROUP BY 1) a
            JOIN (SELECT pred AS lang, count(*) AS nb FROM lab GROUP BY 1) b
            USING (lang))
        SELECT CAST(n AS BIGINT) AS n,
          agree / n AS p_observed,
          s / (n * n) AS p_expected,
          (agree / n - s / (n * n)) / (1.0 - s / (n * n)) AS kappa
        FROM m, e"""
      }),

    // ---- First-occurrence novelty: how much of each doc is new? ------
    // The corpus-diversity curve a dedup pipeline reports: for each
    // document (in doc_id order — the ingestion order), the fraction
    // of its distinct 3-gram shingles whose FIRST occurrence is this
    // document. One shingle pass attributes each shingle to its min
    // doc_id (partial-agg min — the d1 keeper discipline on the
    // shingle key), one join scores every document against that
    // attribution. A boilerplate-heavy corpus shows novelty collapsing
    // with doc_id; integer counts and one final division keep the
    // fraction hash-exact.
    Q("x39_ngram_novelty",
      (s, dir) => {
        import s.implicits._
        val sh = Dedup.shingledFrom(Tables.load(s, dir, "documents"))
          .select($"doc_id", explode($"shs").as("sh"))
        val firstSeen = sh.groupBy($"sh").agg(min($"doc_id").as("first_id"))
        sh.join(firstSeen, "sh")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when($"first_id" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .select($"doc_id", $"n_shingles", $"n_novel",
            ($"n_novel".cast("double") / $"n_shingles").as("novelty"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH sh AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(list_distinct(
              CASE WHEN len(toks) < 3 THEN []
              ELSE list_transform(range(1, len(toks)-1),
                i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) END))
              AS g
            FROM (SELECT doc_id, $duckToks AS toks FROM documents))),
        f AS (SELECT g, min(doc_id) AS first_id FROM sh GROUP BY g)
        SELECT doc_id, count(*) AS n_shingles,
          CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / count(*) AS novelty
        FROM sh JOIN f USING (g)
        GROUP BY doc_id ORDER BY doc_id""")),

    // ---- Count-Min sketch: mergeable point-frequency estimates -------
    // The sketch family's frequency member (Cormode & Muthukrishnan
    // 2005) joining HLL (m32), Misra-Gries (x32), and the quantile
    // sketches (m29): 4 hash rows × 512 counters built in ONE
    // partial-agg pass over the token stream (the sketch is the 2048-
    // cell groupBy result — mergeable across partitions/files by
    // construction, the m25 sidecar shape). Point queries take the
    // min over the 4 row counters — always ≥ the true count, never
    // under. Probes are the corpus's own top-5 tokens so the row is
    // self-contained; the estimate itself sits on the hash surface
    // (pure integer hashing, identical in the oracle), and
    // `admissible` pins the one-sided error guarantee.
    Q("x37_countmin",
      (s, dir) => {
        import s.implicits._
        val A = Seq(31L, 131L, 1031L, 10007L)
        val B = Seq(7L, 77L, 777L, 7777L)
        val toks = Tables.load(s, dir, "documents")
          .select(explode(TextOps.tokens($"text")).as("tok"))
          .select($"tok", (TextOps.hash60($"tok") % 1000003L).as("h"))
          .persist()
        val cells = (0 until 4).map(r =>
          struct(lit(r).as("r"),
            (($"h" * A(r) + B(r)) % 4294967296L % 512L).as("col")))
        val cm = toks.select(explode(array(cells: _*)).as("c"))
          .groupBy($"c.r".as("r"), $"c.col".as("col"))
          .agg(count(lit(1)).as("cnt"))
        val top5 = toks.groupBy($"tok").agg(count(lit(1)).as("true_cnt"))
          .orderBy($"true_cnt".desc, $"tok").limit(5)
          .withColumn("h", TextOps.hash60($"tok") % 1000003L)
        top5.select($"tok", $"true_cnt", explode(array(cells: _*)).as("c"))
          .select($"tok", $"true_cnt", $"c.r".as("r"), $"c.col".as("col"))
          .join(cm, Seq("r", "col"))
          .groupBy($"tok", $"true_cnt").agg(min($"cnt").as("est"))
          .select($"tok", $"true_cnt", $"est",
            ($"est" >= $"true_cnt").as("admissible"))
          .orderBy($"tok")
      },
      Some {
        val h = s"(${duckHash60("tok")} % 1000003)"
        val as = Seq(31L, 131L, 1031L, 10007L)
        val bs = Seq(7L, 77L, 777L, 7777L)
        val cellSel = (0 until 4).map(r =>
          s"SELECT tok, $r AS r, ($h * ${as(r)} + ${bs(r)}) " +
          s"% 4294967296 % 512 AS col FROM toks").mkString(" UNION ALL ")
        s"""WITH toks AS (
            SELECT unnest($duckToks) AS tok FROM documents),
          cells AS ($cellSel),
          cm AS (SELECT r, col, count(*) AS cnt FROM cells GROUP BY 1, 2),
          top5 AS (SELECT tok, count(*) AS true_cnt FROM toks
            GROUP BY tok ORDER BY true_cnt DESC, tok LIMIT 5),
          pc AS (SELECT t.tok, t.true_cnt, c.r,
              ($h * (CASE c.r WHEN 0 THEN 31
                WHEN 1 THEN 131 WHEN 2 THEN 1031 ELSE 10007 END) +
                (CASE c.r WHEN 0 THEN 7 WHEN 1 THEN 77 WHEN 2 THEN 777
                 ELSE 7777 END)) % 4294967296 % 512 AS col
            FROM top5 t CROSS JOIN (SELECT unnest(range(0, 4)) AS r) c)
          SELECT pc.tok, true_cnt, min(cnt) AS est,
            min(cnt) >= true_cnt AS admissible
          FROM pc JOIN cm ON pc.r = cm.r AND pc.col = cm.col
          GROUP BY pc.tok, true_cnt
          ORDER BY pc.tok"""
      }),

    // ---- AUC by rank-sum: the eval metric for any corpus scorer ------
    // The Mann-Whitney form of ROC-AUC, exact: rank every document by
    // the score (here the n_chars length signal predicting lang='en'),
    // average ranks within tied scores (the textbook tie handling —
    // a doc_id tiebreak alone would make AUC depend on ids), and
    // AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻). Everything is integer
    // arithmetic — one sort-rank window, one tie-group average, two
    // counts — until the single final division, so the metric sits on
    // the hash surface with no rounding. At 100 TB the global rank
    // window becomes a two-pass rank-by-histogram (m38's counting
    // trick); the exact form pins the semantics.
    Q("x36_auc_ranksum",
      (s, dir) => {
        import s.implicits._
        val ranked = Tables.load(s, dir, "documents")
          .select($"doc_id", $"n_chars", ($"lang" === "en").as("pos"))
          .withColumn("rn", row_number().over(
            Window.orderBy($"n_chars", $"doc_id")))
          .withColumn("avg_rank",
            avg($"rn").over(Window.partitionBy($"n_chars")))
        ranked.agg(
            sum(when($"pos", $"avg_rank")).as("rank_sum"),
            sum(when($"pos", 1L).otherwise(0L)).as("np"),
            sum(when(!$"pos", 1L).otherwise(0L)).as("nn"))
          .select($"np", $"nn",
            (($"rank_sum" - $"np" * ($"np" + 1) / 2.0) /
              ($"np" * $"nn").cast("double")).as("auc"))
      },
      Some("""WITH r AS (
          SELECT doc_id, n_chars, lang = 'en' AS pos,
            row_number() OVER (ORDER BY n_chars, doc_id) AS rn
          FROM documents),
        a AS (SELECT doc_id, pos,
            avg(rn) OVER (PARTITION BY n_chars) AS avg_rank
          FROM r)
        SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS nn,
          (sum(CASE WHEN pos THEN avg_rank END) -
            sum(CASE WHEN pos THEN 1 ELSE 0 END) *
            (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1) / 2.0) /
            CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) *
              sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS DOUBLE) AS auc
        FROM a""")),

    // ---- BPE merge learning: 3 rounds of pair-count → merge -----------
    // Tokenizer-vocabulary learning (Sennrich et al. 2016), word-pair
    // level: each round counts adjacent symbol pairs across the
    // corpus, picks argmax (count, then pair — total order), and
    // MERGES every left-to-right non-overlapping occurrence before
    // recounting. The corpus rides a canonical encoding — tokens
    // joined by double spaces, padded — so one literal replace() of
    // " x  y " with " xy " applies the merge with identical
    // greedy semantics on both engines (replace is left-to-right
    // non-overlapping in Spark and DuckDB alike; the double-space
    // separator keeps a consumed boundary from hiding the next
    // occurrence). Per round: pair explode is map-side, counts
    // partial-aggregate, and the ONLY driver traffic is the single
    // argmax row (bounded probe) — corpus-sized data never leaves the
    // executors, and each round's post-merge vocabulary size goes on
    // the hash surface so a replace-semantics drift cannot pass.
    Q("x35_bpe_merges",
      (s, dir) => {
        import s.implicits._
        val J = "\u0001" // merged-symbol joiner (oracle: chr(1))
        def toksOf(c: org.apache.spark.sql.Column) = split(trim(c), "  ")
        var cur = Tables.load(s, dir, "documents")
          .select($"doc_id", concat(lit(" "),
            array_join(TextOps.tokens($"text"), "  "), lit(" ")).as("s"))
          .persist()
        val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
        (1 to 3).foreach { r =>
          val tk = cur.select(toksOf($"s").as("tk")).filter(size($"tk") >= 2)
          val best = tk.select(explode(expr(
              "transform(sequence(0, size(tk) - 2), " +
              "i -> struct(tk[i] as x, tk[i + 1] as y))")).as("p"))
            .groupBy($"p.x".as("x"), $"p.y".as("y"))
            .agg(count(lit(1)).as("cnt"))
            .orderBy($"cnt".desc, $"x", $"y").limit(1).collect()(0)
          val (bx, by, bc) =
            (best.getString(0), best.getString(1), best.getLong(2))
          val next = cur.select($"doc_id", call_function("replace", $"s",
            lit(s" $bx  $by "), lit(s" $bx$J$by ")).as("s")).persist()
          val vocab = next.select(explode(toksOf($"s")).as("t"))
            .filter($"t" =!= "")
            .agg(countDistinct($"t")).collect()(0).getLong(0)
          cur.unpersist()
          cur = next
          out += ((r, bx, by, bc, vocab))
        }
        cur.unpersist()
        out.toSeq.toDF("rank", "x", "y", "cnt", "vocab").orderBy($"rank")
      },
      Some(s"""WITH r0 AS (SELECT doc_id,
            ' ' || array_to_string($duckToks, '  ') || ' ' AS s
          FROM documents),
        tk1 AS (SELECT string_split(trim(s), '  ') AS tk FROM r0
          WHERE len(string_split(trim(s), '  ')) >= 2),
        p1 AS (SELECT tk[i] AS x, tk[i+1] AS y, count(*) AS cnt
          FROM tk1, unnest(range(1, len(tk))) u(i) GROUP BY 1, 2),
        b1 AS (SELECT x, y, cnt FROM p1 ORDER BY cnt DESC, x, y LIMIT 1),
        r1 AS (SELECT doc_id, replace(s,
            ' ' || (SELECT x FROM b1) || '  ' || (SELECT y FROM b1) || ' ',
            ' ' || (SELECT x FROM b1) || chr(1) || (SELECT y FROM b1) || ' ')
            AS s FROM r0),
        v1 AS (SELECT count(DISTINCT t) AS v FROM (
          SELECT unnest(string_split(trim(s), '  ')) AS t FROM r1)
          WHERE t <> ''),
        tk2 AS (SELECT string_split(trim(s), '  ') AS tk FROM r1
          WHERE len(string_split(trim(s), '  ')) >= 2),
        p2 AS (SELECT tk[i] AS x, tk[i+1] AS y, count(*) AS cnt
          FROM tk2, unnest(range(1, len(tk))) u(i) GROUP BY 1, 2),
        b2 AS (SELECT x, y, cnt FROM p2 ORDER BY cnt DESC, x, y LIMIT 1),
        r2 AS (SELECT doc_id, replace(s,
            ' ' || (SELECT x FROM b2) || '  ' || (SELECT y FROM b2) || ' ',
            ' ' || (SELECT x FROM b2) || chr(1) || (SELECT y FROM b2) || ' ')
            AS s FROM r1),
        v2 AS (SELECT count(DISTINCT t) AS v FROM (
          SELECT unnest(string_split(trim(s), '  ')) AS t FROM r2)
          WHERE t <> ''),
        tk3 AS (SELECT string_split(trim(s), '  ') AS tk FROM r2
          WHERE len(string_split(trim(s), '  ')) >= 2),
        p3 AS (SELECT tk[i] AS x, tk[i+1] AS y, count(*) AS cnt
          FROM tk3, unnest(range(1, len(tk))) u(i) GROUP BY 1, 2),
        b3 AS (SELECT x, y, cnt FROM p3 ORDER BY cnt DESC, x, y LIMIT 1),
        r3 AS (SELECT doc_id, replace(s,
            ' ' || (SELECT x FROM b3) || '  ' || (SELECT y FROM b3) || ' ',
            ' ' || (SELECT x FROM b3) || chr(1) || (SELECT y FROM b3) || ' ')
            AS s FROM r2),
        v3 AS (SELECT count(DISTINCT t) AS v FROM (
          SELECT unnest(string_split(trim(s), '  ')) AS t FROM r3)
          WHERE t <> '')
        SELECT 1 AS rank, (SELECT x FROM b1) AS x, (SELECT y FROM b1) AS y,
          (SELECT cnt FROM b1) AS cnt, (SELECT v FROM v1) AS vocab
        UNION ALL SELECT 2, (SELECT x FROM b2), (SELECT y FROM b2),
          (SELECT cnt FROM b2), (SELECT v FROM v2)
        UNION ALL SELECT 3, (SELECT x FROM b3), (SELECT y FROM b3),
          (SELECT cnt FROM b3), (SELECT v FROM v3)
        ORDER BY rank""")),

    // ---- DSIR-style importance weight: target vs corpus log-odds -----
    // Data selection with importance resampling (Xie et al. 2023,
    // arXiv:2302.03169) reduced to its unigram form: score every
    // document by the mean log-odds of its tokens under the TARGET
    // distribution (here: the English sub-corpus) vs the raw corpus
    // distribution, add-1 smoothed over the shared vocabulary. ONE
    // token pass computes both distributions (the target count is a
    // conditional sum inside the same groupBy), the one-row totals
    // ride a broadcast cross join (the x10/x14 shape), and the
    // per-doc score is a partial-agg mean — no corpus-sized state
    // anywhere. Scores round to 6 decimals under the x14 ulp
    // argument (ln + avg reorder noise only).
    Q("x34_dsir_logodds",
      (s, dir) => {
        import s.implicits._
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang",
            explode(TextOps.tokens($"text")).as("tok"))
        val vocab = toks.groupBy($"tok").agg(
          count(lit(1)).as("c_all"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("c_en"))
        val totals = vocab.agg(
          sum($"c_all").as("t_all"), sum($"c_en").as("t_en"),
          count(lit(1)).as("v"))
        toks.join(vocab, "tok").crossJoin(broadcast(totals))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_toks"),
            round(avg(
              log(($"c_en" + 1).cast("double") / ($"t_en" + $"v")) -
              log(($"c_all" + 1).cast("double") / ($"t_all" + $"v"))), 6)
              .as("dsir_weight"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, lang, unnest($duckToks) AS tok FROM documents),
        vocab AS (SELECT tok, count(*) AS c_all,
            sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_en
          FROM toks GROUP BY tok),
        tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS t_all,
            CAST(sum(c_en) AS BIGINT) AS t_en,
            count(*) AS v FROM vocab)
        SELECT doc_id, count(*) AS n_toks,
          round(avg(
            ln(CAST(c_en + 1 AS DOUBLE) / (t_en + v)) -
            ln(CAST(c_all + 1 AS DOUBLE) / (t_all + v))), 6)
            AS dsir_weight
        FROM toks JOIN vocab USING (tok) CROSS JOIN tot
        GROUP BY doc_id ORDER BY doc_id"""))
  )

  /** (doc_id, toks) view of the documents table — the tokenized input
    * every BM25 build derives from.
    */
  private def docToks(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))

  /** The 4 BM25 index tables (postings, dict, doc lengths, corpus
    * totals) derived from a (doc_id, toks) frame — used for the base
    * build AND for an incremental batch's delta (x29).
    */
  private[graft] def bm25Tables(d: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val postings = d.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val dict = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dls = d.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tots = dls.agg(count(lit(1)).as("nd"), sum(col("dl")).as("lsum"))
    (postings, dict, dls, tots)
  }

  private[graft] def publishBm25(wh: graft.sources.Warehouse,
      d0: org.apache.spark.sql.DataFrame): Unit = {
    // tokenize ONCE: all four index tables derive from the same
    // (doc_id, toks) pass, which un-persisted re-ran the tokenizer
    // + explode per table (3 full corpus passes, guide §1.2 "don't
    // compute things you throw away")
    val d = d0.persist()
    try {
      val (postings, dict, dls, tots) = bm25Tables(d)
      // postings first: its write materializes the shared cache; the
      // three remaining tables are independent of each other, so their
      // publish jobs OVERLAP from a small driver pool (guide §2.6 —
      // each is a tiny job whose commit latency would otherwise
      // serialize; different tables never contend on a commit CAS)
      wh.atomicPublish("bm25_postings", postings)
      wh.atomicPublishAll(Seq("bm25_dict" -> dict, "bm25_doclen" -> dls,
        "bm25_totals" -> tots))
    } finally { d.unpersist(); () }
  }

  /** Build + publish the full-corpus BM25 index into a Scratch
    * manifest warehouse — the one-time batch job x26/x27/x28 serve
    * from.
    */
  private def buildBm25Index(s: org.apache.spark.sql.SparkSession,
      dir: String, key: String): graft.sources.Warehouse = {
    val wh = graft.sources.Scratch.warehouse(s, key)
    publishBm25(wh, docToks(s, dir))
    wh
  }

  /** Incremental BM25 ADD (the x29 shape, shared with the lifecycle
    * fuzz): the batch's postings and doc-lengths APPEND (new doc ids,
    * no key overlap — the manifest append only references old files),
    * the dictionary takes per-term df increments via one full-outer
    * merge (cost ∝ |dict| + |batch vocab|, never the corpus), the
    * 1-row totals add the batch's counts. Must be indistinguishable
    * from a full rebuild — x29's oracle and the fuzz's fresh-build
    * comparisons both pin exactly that.
    */
  private[graft] def incrementBm25(wh: graft.sources.Warehouse,
      batch0: org.apache.spark.sql.DataFrame): Unit = {
    // tokenize the batch ONCE (postings feed both the df-increment and
    // the append; lengths feed both the totals and the append)
    val batch = batch0.persist()
    try {
      val (np, _, nl, _) = bm25Tables(batch)
      val inc = np.groupBy(col("term")).agg(count(lit(1)).as("dfinc"))
      val dictNew = wh.read("bm25_dict")
        .join(inc, Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("dfinc"), lit(0L))).as("df"))
      val bstats = nl.agg(count(lit(1)).as("bnd"),
        coalesce(sum(col("dl")), lit(0L)).as("blsum"))
      val totNew = wh.read("bm25_totals").crossJoin(broadcast(bstats))
        .select((col("nd") + col("bnd")).as("nd"),
          (col("lsum") + col("blsum")).as("lsum"))
      // four INDEPENDENT tables (dict/totals derivations resolved their
      // base snapshots above): overlap the commit jobs — guide §2.6
      val ops: Seq[() => Unit] = Seq(
        () => wh.append("bm25_postings", np),
        () => wh.append("bm25_doclen", nl),
        () => wh.atomicPublish("bm25_dict", dictNew),
        () => wh.atomicPublish("bm25_totals", totNew))
      graft.Parallel.map(ops, ops.size)(op => op())
    } finally { batch.unpersist(); () }
  }

  /** Decrement the derived BM25 aggregates for a deleted-doc set: one
    * bounded pass over the doomed docs' postings yields per-term df
    * drops (dict rows hitting zero are removed) and the totals' count/
    * length losses; dict and totals republish from snapshot-pinned
    * pre-delete reads (wh.read resolves the manifest at call time, so
    * the derivation sees the old index no matter when it executes).
    * Cost ∝ |deleted| + |dict| — both tables are vocab-bounded / 1
    * row. Shared by x28 (eager fold) and x30 (merge-on-read).
    */
  private[graft] def applyBm25Deletes(wh: graft.sources.Warehouse,
      doomed: org.apache.spark.sql.DataFrame): Unit = {
    val dec = wh.read("bm25_postings")
      .join(doomed, Seq("doc_id"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("ddf"))
    val dictNew = wh.read("bm25_dict")
      .join(dec, Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val delStats = wh.read("bm25_doclen")
      .join(doomed, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("dnd"),
        coalesce(sum(col("dl")), lit(0L)).as("dlsum"))
    val totNew = wh.read("bm25_totals").crossJoin(broadcast(delStats))
      .select((col("nd") - col("dnd")).as("nd"),
        (col("lsum") - col("dlsum")).as("lsum"))
    // independent tables, base snapshots already resolved: overlap
    wh.atomicPublishAll(Seq("bm25_dict" -> dictNew, "bm25_totals" -> totNew))
  }

  /** Serve-side per-term scores from a published BM25 index: postings
    * scanned under a pushed In() on the query terms (per-query cost ∝
    * posting-list length, not corpus size), dictionary and totals
    * broadcast. `tombstones` (x30) anti-joins a broadcast deleted-doc
    * set into the postings read — merge-on-read semantics with no
    * index rewrite. Shared by x26 (single query), x27 (query batch),
    * x28 (post-fold re-probe), x29 (post-increment), x30 (tombstoned).
    */
  private[graft] def servedSterms(wh: graft.sources.Warehouse,
      qterms: Seq[String],
      tombstones: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val post0 = wh.read("bm25_postings")
      .filter(col("term").isin(qterms: _*))
    val post = tombstones.map(t =>
      post0.join(broadcast(t), Seq("doc_id"), "left_anti")).getOrElse(post0)
    post
      .join(broadcast(wh.read("bm25_dict")
        .filter(col("term").isin(qterms: _*))), "term")
      .join(wh.read("bm25_doclen"), "doc_id")
      .crossJoin(broadcast(wh.read("bm25_totals")))
      .withColumn("sterm", bm25Sterm)
  }
}
