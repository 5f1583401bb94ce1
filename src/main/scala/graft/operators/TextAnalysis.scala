package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Fixpoint, Tables}

/** Text-analysis operators over `documents` — the LLM-pipeline text slice:
  * corpus stats, token frequency, per-document quality scoring, marker-word
  * language ID, and content fingerprinting.
  *
  * Oracle discipline: every emitted number is either an integer, a string,
  * a boolean, or a double derived from integers by one division + round(6)
  * (identical operation order on both engines), so the DuckDB twins
  * hash-match exactly. Scale: everything here is a projection or a single
  * grouped aggregation — one shuffle at most, map-side combine always
  * applies, and token explosion collapses via partial aggregation before
  * the exchange.
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** Corpus stats per (lang, source): doc counts and length distribution. */
  def textStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"))

  val textStatsSql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       round(avg(n_chars), 6) AS avg_chars
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Top-50 tokens by corpus frequency. Explode → count collapses map-side
    * (partial agg on each partition's token slice); the top-k plans as
    * TakeOrderedAndProject, never a global sort. */
  def tokenTopk(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)

  val tokenTopkSql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin

  /** Zipf's-law fit per language: OLS of ln(freq) on ln(rank) over the
    * top-200 vocabulary — the corpus-health diagnostic (natural language
    * sits near slope −1; a flat or cliff-shaped curve flags synthetic or
    * template text). Rank-limit first: `row_number <= 200` plans with
    * Spark's WindowGroupLimit pushdown, so every partition pre-prunes to
    * its own top-200 per language BEFORE the exchange — the per-lang
    * window (a low-cardinality partition key this suite polices) only
    * ever sees ≤ partitions×200 rows per language, never the vocabulary.
    * The OLS sums then aggregate ≤200 rows per language.
    *
    * Float discipline: ln() is the one op here that is not IEEE-exactness
    * -guaranteed cross-engine, so each term fixes to the 12-dp grid
    * immediately (the [[qualityUnigramLogprob]] precedent), products are
    * exact DECIMAL(38,24) multiplies, sums are order-free exact decimal
    * adds, and the closed-form slope/intercept/r² run one identically-
    * parenthesized IEEE chain on the aggregated sums, round(6). */
  def tokenZipf(s: SparkSession, d: String): DataFrame = {
    val freq = docs(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
    val ranked = freq
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("freq").desc, col("w").asc)))
      .where(col("rank") <= 200)
    val terms = ranked.select(col("lang"),
      round(log(col("rank").cast("double")), 12)
        .cast("decimal(14,12)").as("x"),
      round(log(col("freq").cast("double")), 12)
        .cast("decimal(14,12)").as("y"))
    val agg = terms.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,24)")).cast("double").as("sxx"),
      sum((col("x") * col("y")).cast("decimal(38,24)")).cast("double").as("sxy"),
      sum((col("y") * col("y")).cast("decimal(38,24)")).cast("double").as("syy"))
    val n = col("n").cast("double")
    val cov = (n * col("sxy")) - (col("sx") * col("sy"))
    val varx = (n * col("sxx")) - (col("sx") * col("sx"))
    val vary = (n * col("syy")) - (col("sy") * col("sy"))
    agg.select(col("lang"), col("n"),
      round(cov / varx, 6).as("slope"),
      round((col("sy") - (cov / varx) * col("sx")) / n, 6).as("intercept"),
      round((cov * cov) / (varx * vary), 6).as("r2"))
  }

  val tokenZipfSql: String =
    """WITH freq AS (
      |  SELECT lang, w, count(*) AS freq
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT lang, freq,
      |    row_number() OVER (PARTITION BY lang
      |                       ORDER BY freq DESC, w ASC) AS rank
      |  FROM freq QUALIFY rank <= 200),
      |terms AS (
      |  SELECT lang,
      |    CAST(round(ln(CAST(rank AS DOUBLE)), 12) AS DECIMAL(14,12)) AS x,
      |    CAST(round(ln(CAST(freq AS DOUBLE)), 12) AS DECIMAL(14,12)) AS y
      |  FROM ranked),
      |agg AS (
      |  SELECT lang, count(*) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,24))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(x * y AS DECIMAL(38,24))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(y * y AS DECIMAL(38,24))) AS DOUBLE) AS syy
      |  FROM terms GROUP BY 1)
      |SELECT lang, n,
      |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |        (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
      |  round((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |               (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) /
      |        CAST(n AS DOUBLE), 6) AS intercept,
      |  round(((CAST(n AS DOUBLE) * sxy - sx * sy) *
      |         (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |        ((CAST(n AS DOUBLE) * sxx - sx * sx) *
      |         (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
      |FROM agg ORDER BY lang""".stripMargin

  /** Herdan/Heaps vocabulary-growth law per language — the companion of
    * [[tokenZipf]]'s frequency law: V(N) ≈ k·N^β fitted per doc point
    * (x = ln tokens, y = ln distinct tokens) by the same OLS machinery.
    * β says how fast a language's vocabulary grows with corpus size —
    * the number a tokenizer-budget or dedup-capacity plan needs before
    * scaling a corpus 100×. Float discipline is the [[tokenZipf]]
    * convention verbatim: each ln fixes to the 12-dp grid, cross
    * products accumulate as exact DECIMAL(38,24), the slope chain is
    * identically-parenthesized IEEE ops. A degenerate language (all
    * docs the same length ⇒ zero x-variance) emits NULL in both
    * engines rather than Spark-NULL-vs-DuckDB-inf. Shape: one pure
    * projection (two size() calls per doc, no explode — the shingle
    * array never leaves the row) + one ≤|langs|-row aggregate; the ONLY
    * exchange is the final lang-keyed partial agg. */
  def tokenHerdan(s: SparkSession, d: String): DataFrame = {
    val terms = docs(s, d).select(col("lang"),
      round(log(size(split(col("text"), " ")).cast("double")), 12)
        .cast("decimal(14,12)").as("x"),
      round(log(size(array_distinct(split(col("text"), " "))).cast("double")), 12)
        .cast("decimal(14,12)").as("y"))
    val agg = terms.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,24)")).cast("double").as("sxx"),
      sum((col("x") * col("y")).cast("decimal(38,24)")).cast("double").as("sxy"),
      sum((col("y") * col("y")).cast("decimal(38,24)")).cast("double").as("syy"))
    val n = col("n_docs").cast("double")
    val cov = (n * col("sxy")) - (col("sx") * col("sy"))
    val varx = (n * col("sxx")) - (col("sx") * col("sx"))
    val vary = (n * col("syy")) - (col("sy") * col("sy"))
    agg.select(col("lang"), col("n_docs"),
      when(varx === 0.0, lit(null).cast("double"))
        .otherwise(round(cov / varx, 6)).as("beta"),
      when(varx === 0.0, lit(null).cast("double"))
        .otherwise(round((col("sy") - (cov / varx) * col("sx")) / n, 6))
        .as("ln_k"),
      when(varx === 0.0 || vary === 0.0, lit(null).cast("double"))
        .otherwise(round((cov * cov) / (varx * vary), 6)).as("r2"))
  }

  val tokenHerdanSql: String =
    """WITH terms AS (
      |  SELECT lang,
      |    CAST(round(ln(CAST(len(string_split(text, ' ')) AS DOUBLE)), 12)
      |         AS DECIMAL(14,12)) AS x,
      |    CAST(round(ln(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)), 12)
      |         AS DECIMAL(14,12)) AS y
      |  FROM documents),
      |agg AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,24))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(x * y AS DECIMAL(38,24))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(y * y AS DECIMAL(38,24))) AS DOUBLE) AS syy
      |  FROM terms GROUP BY 1)
      |SELECT lang, n_docs,
      |  CASE WHEN CAST(n_docs AS DOUBLE) * sxx - sx * sx = 0 THEN NULL
      |  ELSE round((CAST(n_docs AS DOUBLE) * sxy - sx * sy) /
      |             (CAST(n_docs AS DOUBLE) * sxx - sx * sx), 6) END AS beta,
      |  CASE WHEN CAST(n_docs AS DOUBLE) * sxx - sx * sx = 0 THEN NULL
      |  ELSE round((sy - ((CAST(n_docs AS DOUBLE) * sxy - sx * sy) /
      |                    (CAST(n_docs AS DOUBLE) * sxx - sx * sx)) * sx) /
      |             CAST(n_docs AS DOUBLE), 6) END AS ln_k,
      |  CASE WHEN CAST(n_docs AS DOUBLE) * sxx - sx * sx = 0
      |         OR CAST(n_docs AS DOUBLE) * syy - sy * sy = 0 THEN NULL
      |  ELSE round(((CAST(n_docs AS DOUBLE) * sxy - sx * sy) *
      |              (CAST(n_docs AS DOUBLE) * sxy - sx * sy)) /
      |             ((CAST(n_docs AS DOUBLE) * sxx - sx * sx) *
      |              (CAST(n_docs AS DOUBLE) * syy - sy * sy)), 6) END AS r2
      |FROM agg ORDER BY lang""".stripMargin

  /** Fuzzy vocabulary pairs at edit distance EXACTLY 1, by SymSpell-style
    * deletion-neighborhood blocking (Garbe's symmetric-delete scheme):
    * every token emits itself plus its single-character deletions as
    * block keys, candidates are pairs sharing a key, and an exact
    * `levenshtein` check keeps the true matches. The blocking is COMPLETE
    * for ED ≤ 1 — a substitution at position i makes del(a,i) = del(b,i),
    * an insertion makes the shorter token equal one deletion of the
    * longer — which is not taken on faith: the DuckDB oracle is the
    * QUADRATIC brute force (all vocab pairs through levenshtein), so a
    * blocking scheme that dropped a pair would hash-mismatch, not just
    * lose recall silently. Vocabulary = document text + part-name words
    * (the entity-resolution use: spell variants across a corpus and a
    * catalog).
    *
    * Scale shape: everything downstream of the two scans is
    * VOCABULARY-sized, not corpus-sized. The blocking fan-out is
    * len+1 keys per token (tokens capped at 32 chars — the documented
    * contract, mirrored in the oracle), the candidate join is equi on the
    * block key, and the verify is a per-pair codegen'd levenshtein —
    * never all-pairs. At 100 TB the vocab is millions of rows where the
    * brute force is 10¹² pairs; this is the only shape that survives. */
  def tokenFuzzyPairs(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .union(Tables.load(s, d, "part")
        .select(explode(split(col("p_name"), " ")).as("tok")))
      .where(length(col("tok")).between(1, 32))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      // pin the vocab once: it feeds the variant expansion AND both
      // frequency joins — un-pinned, each use re-scans the two corpora
      // (measured: FileScans=4 vs 2; the harness sweeps pinned blocks
      // between queries via graft.Blocks)
      .localCheckpoint()
    val variants = toks.select(col("tok"), explode(expr(
      """concat(array(tok),
        |  transform(sequence(1, length(tok)), i ->
        |    concat(substring(tok, 1, i - 1),
        |           substring(tok, i + 1, length(tok)))))""".stripMargin))
      .as("key"))
    val cand = variants.select(col("tok").as("tok_a"), col("key"))
      .join(variants.select(col("tok").as("tok_b"), col("key")), Seq("key"))
      .where(col("tok_a") < col("tok_b"))
      .select(col("tok_a"), col("tok_b")).distinct()
      .where(levenshtein(col("tok_a"), col("tok_b")) === 1)
    cand
      .join(toks.select(col("tok").as("tok_a"), col("n").as("n_a")), Seq("tok_a"))
      .join(toks.select(col("tok").as("tok_b"), col("n").as("n_b")), Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"))
  }

  val tokenFuzzyPairsSql: String =
    """WITH toks AS (
      |  SELECT tok, count(*) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |    UNION ALL
      |    SELECT unnest(string_split(p_name, ' ')) FROM part)
      |  WHERE len(tok) BETWEEN 1 AND 32
      |  GROUP BY 1)
      |SELECT a.tok AS tok_a, b.tok AS tok_b,
      |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b
      |FROM toks a JOIN toks b ON a.tok < b.tok
      |WHERE levenshtein(a.tok, b.tok) = 1
      |ORDER BY tok_a, tok_b""".stripMargin

  /** BPE merge learning — the first `rounds` byte-pair-encoding merges
    * trained on the corpus word-frequency table (Sennrich, Haddow & Birch,
    * ACL 2016): per round, count adjacent symbol pairs weighted by word
    * frequency, take the argmax (ties broken lexicographically — the
    * determinism contract), and merge every leftmost non-overlapping
    * occurrence. This is TOKENIZER TRAINING as a first-class distributed
    * operator — the step every LLM data pipeline runs before token
    * counting means anything.
    *
    * The merge step is exact in BOTH engines through a delimiter trick:
    * each symbol is carried as `{sym}` inside one string, so
    * `replace(rep, '{a}{b}', '{ab}')` is fully anchored on whole symbols
    * (no prefix/suffix false matches) with NO shared boundary between
    * adjacent occurrences — plain SQL `replace` (leftmost,
    * non-overlapping, resume-after-match) IS the greedy BPE merge, with
    * identical semantics in Spark and DuckDB. The oracle unrolls the
    * rounds as MATERIALIZED CTEs (the kCore discipline), so the learned
    * merge TABLE hash-oracles — pair stats, argmax tie-breaks and merge
    * rewrites all agree or the hash catches it.
    *
    * Scale shape: everything is VOCABULARY-sized after the one corpus
    * aggregate. Per round: symbol-pair explode (≤ len terms per word,
    * words capped at 32 chars) → map-side-combined pair count → a 1-ROW
    * argmax collected to the driver (the kmeansFit bounded-model
    * convention — the merge literal must fold into the next round's
    * projection) → a pure per-row replace. Checkpoint-per-round with
    * immediate release, the iterative-operator lifecycle. */
  private[graft] def bpeMergeList(words: DataFrame, rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val vocab0 = words
      .select(expr(
        """array_join(transform(sequence(1, length(w)), i ->
          |  concat('{', substring(w, i, 1), '}')), '')""".stripMargin).as("rep"),
        col("freq"))
      .localCheckpoint()
    type Merges = Vector[(Int, String, String, Long)]
    // (vocabulary, merges so far, no pair left)
    val (vocab, merges, _) = Fixpoint.rounds(rounds, (vocab0, Vector.empty: Merges, false),
        until = (s: (DataFrame, Merges, Boolean)) => s._3) { case (r, (vocab, merges, _)) =>
      val bestFrame = vocab
        .select(col("freq"), expr(
          """transform(filter(split(rep, '\\}'), x -> x != ''),
            |          x -> substring(x, 2, length(x)))""".stripMargin).as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), i ->
            |  struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("wt"))
        .orderBy(col("wt").desc, col("a"), col("b"))
        .limit(1)
      r.observe(bestFrame)
      val best = bestFrame.as[(String, String, Long)].collect()
      if (best.isEmpty) (vocab, merges, true)
      else {
        val (a, b, wt) = best.head
        // the {sym} anchoring (and the embedded replace literal) requires
        // delimiter-free, quote-free symbols; corpus tokens are plain words
        require(!(a + b).exists(c => c == '{' || c == '}' || c == '\''),
          s"corpus token contains a delimiter/quote: '$a' '$b'")
        (r.cut(vocab.select(expr(s"replace(rep, '{$a}{$b}', '{$a$b}')").as("rep"),
          col("freq"))), merges :+ ((r.i, a, b, wt)), false)
      }
    }
    graft.Blocks.release(vocab)
    merges
  }

  private[graft] def bpeMergesFrom(words: DataFrame, rounds: Int): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    bpeMergeList(words, rounds).toDF("rank", "tok_left", "tok_right", "weight")
      .select(col("rank").cast("int").as("rank"), col("tok_left"),
        col("tok_right"), col("weight"))
  }

  /** `wordpiece_merges` (oracled): the LIKELIHOOD-scored merge trainer
    * (Schuster & Nakajima 2012; the WordPiece objective) next to
    * [[bpeMerges]]'s raw-frequency one — per round, merge the adjacent
    * pair maximizing n_ab/(n_a·n_b), the pair whose fusion most raises
    * corpus likelihood under a unigram-symbol model. The practical
    * difference is real: BPE happily merges two individually-frequent
    * symbols that co-occur incidentally; WordPiece demands the pair
    * co-occur MORE than its parts predict, so early merges capture
    * morphemes instead of raw collocations.
    *
    * Exact-arithmetic discipline: the score is the floored ppb quotient
    * ⌊10⁹·n_ab/(n_a·n_b)⌋ in DECIMAL(38,0)/HUGEINT (n_a·n_b overflows
    * BIGINT near 10⁹-token corpora) with (score DESC, a, b) tie-break —
    * a defined deterministic variant of the real-valued objective (the
    * textrank picounit convention: floor collapses only sub-ppb
    * distinctions, and what both engines compute is identical BY
    * CONSTRUCTION). Per round: the same one-exchange pair count as BPE
    * plus a symbol-count aggregate, the argmax joins both (symbol
    * vocabulary is model-sized — broadcastable), and the winner's
    * replace is a pure projection. Same {sym} representation, same
    * convergence-on-empty. */
  def wordpieceMerges(s: SparkSession, d: String, rounds: Int = 10): DataFrame = {
    val spark = s
    import spark.implicits._
    val words = bpeWords(s, d)
    val vocab0 = words
      .select(expr(
        """array_join(transform(sequence(1, length(w)), i ->
          |  concat('{', substring(w, i, 1), '}')), '')""".stripMargin).as("rep"),
        col("freq"))
      .localCheckpoint()
    val symsOf = expr(
      """transform(filter(split(rep, '\\}'), x -> x != ''),
        |          x -> substring(x, 2, length(x)))""".stripMargin)
    type Merges = Vector[(Int, String, String, Long, Long)]
    // (vocabulary, merges so far, no pair left)
    val (vocab, merges, _) = Fixpoint.rounds(rounds, (vocab0, Vector.empty: Merges, false),
        until = (st: (DataFrame, Merges, Boolean)) => st._3) { case (r, (vocab, merges, _)) =>
      // step-local: read by both aggregates, released once the argmax is in
      val framed = vocab.select(col("freq"), symsOf.as("syms")).localCheckpoint()
      val symCounts = framed
        .select(col("freq"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("n"))
      val pairs = framed.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1), i ->
            |  struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n_ab"))
      val best = pairs
        .join(broadcast(symCounts.select(col("s").as("a"), col("n").as("na"))),
          Seq("a"))
        .join(broadcast(symCounts.select(col("s").as("b"), col("n").as("nb"))),
          Seq("b"))
        .select(col("a"), col("b"), col("n_ab"), expr(
          """CAST((CAST(n_ab AS DECIMAL(38,0)) * 1000000000)
            |DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("score_ppb"))
        .orderBy(col("score_ppb").desc, col("a"), col("b"))
        .limit(1)
        .as[(String, String, Long, Long)].collect()
      graft.Blocks.release(framed)
      if (best.isEmpty) (vocab, merges, true)
      else {
        val (a, b, nab, score) = best.head
        require(!(a + b).exists(c => c == '{' || c == '}' || c == '\''),
          s"corpus token contains a delimiter/quote: '$a' '$b'")
        (r.cut(vocab.select(expr(s"replace(rep, '{$a}{$b}', '{$a$b}')").as("rep"),
          col("freq"))), merges :+ ((r.i, a, b, nab, score)), false)
      }
    }
    graft.Blocks.release(vocab)
    merges.toSeq.toDF("rank", "tok_left", "tok_right", "n_pair", "score_ppb")
      .select(col("rank").cast("int").as("rank"), col("tok_left"),
        col("tok_right"), col("n_pair"), col("score_ppb"))
  }

  /** DuckDB twin of [[wordpieceMerges]]: the bpeCtes round structure
    * with a per-round symbol-count CTE and the identical floored-ppb
    * argmax. */
  def wordpieceMergesSql(rounds: Int = 10): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT freq,
         |         list_transform(list_filter(string_split(rep, '}'),
         |                                    x -> x <> ''),
         |                        x -> x[2:]) AS syms
         |  FROM v${r - 1}),
         |s$r AS MATERIALIZED (
         |  SELECT s, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, unnest(syms) AS s FROM f$r) GROUP BY 1),
         |p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |         CAST(sum(freq) AS BIGINT) AS n_ab
         |  FROM f$r, UNNEST(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT a, b, n_ab,
         |         CAST((n_ab::HUGEINT * 1000000000)
         |              // (sa.n::HUGEINT * sb.n) AS BIGINT) AS score_ppb
         |  FROM p$r JOIN s$r sa ON sa.s = a JOIN s$r sb ON sb.s = b
         |  ORDER BY score_ppb DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT w, replace(rep, '{' || a || '}{' || b || '}',
         |                 '{' || a || b || '}') AS rep, freq
         |  FROM v${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      s"SELECT $r AS rk, a, b, n_ab, score_ppb FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH wf AS (
       |  SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) BETWEEN 1 AND 32
       |    AND w NOT LIKE '%{%' AND w NOT LIKE '%}%' AND w NOT LIKE '%''%'
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT w, array_to_string(
       |           list_transform(range(1, len(w) + 1),
       |                          i -> '{' || w[i] || '}'), '') AS rep,
       |         freq
       |  FROM wf),
       |$roundCtes
       |SELECT CAST(rk AS INT) AS rank, a AS tok_left, b AS tok_right,
       |       n_ab AS n_pair, score_ppb
       |FROM ($out)
       |ORDER BY rank""".stripMargin
  }

  /** Trainer word table. Words carrying the `{sym}` representation's
    * delimiter/quote characters are DROPPED HERE (r14 advice): the
    * trainers' argmax require() only ever saw the winning pair, so a
    * '{'/'}'/quote ANYWHERE in the vocabulary silently corrupted the
    * symbol encoding on both engines (parity held, model wrong). The
    * twin's wf CTE applies the identical predicate. */
  private[graft] def bpeWords(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")).between(1, 32))
      .where(!col("w").contains("{") && !col("w").contains("}") &&
        !col("w").contains("'"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeMergesFrom(bpeWords(s, d), rounds = 10)

  /** The learned merges applied back to a word, as one nested-replace SQL
    * expression over the `{sym}` representation — the serve-path encode
    * under a FIXED merge model (the quantizeLit convention: model folds
    * in as literals, the projection is pure per-row work). `w` is the
    * word column or lambda variable in scope. */
  private[graft] def bpeRepExpr(merges: Seq[(Int, String, String, Long)],
                                w: String = "w"): String = {
    val base = s"array_join(transform(sequence(1, length($w)), i -> " +
      s"concat('{', substring($w, i, 1), '}')), '')"
    merges.foldLeft(base) { case (e, (_, a, b, _)) =>
      s"replace($e, '{$a}{$b}', '{$a$b}')"
    }
  }

  /** Corpus tokenization under the learned BPE merges — the APPLY half of
    * [[bpeMerges]] (train/serve, the kmeans fit/assign and quantize
    * scales/lit pattern): per document, the word count and the total BPE
    * token count after the 10 trained merges. Token count per word is
    * delimiter arithmetic — `length(rep) − length(replace(rep,'{',''))`
    * counts symbols exactly, no parsing. The encode itself is a pure
    * per-occurrence projection (the merge literals fold into ONE nested
    * replace expression), so the plan is scan → project → one doc_id
    * aggregate — no vocabulary join, nothing beyond the corpus scan.
    * Oracled: the DuckDB twin RE-LEARNS the merges through the same
    * unrolled CTEs and encodes by joining v10's final representations —
    * a different (join-based) encode path that must agree token-for-token
    * with the folded-literal path, or the hash catches it. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val merges = bpeMergeList(bpeWords(s, d), rounds = 10)
    docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")).between(1, 32))
      // same delimiter exclusion as the trainer's vocabulary (bpeWords):
      // a '{'/'}'/quote word has no well-formed {sym} representation, so
      // it is excluded from token accounting on BOTH engines (the twin's
      // join against v10 drops it naturally)
      .where(!col("w").contains("{") && !col("w").contains("}") &&
        !col("w").contains("'"))
      .withColumn("rep", expr(bpeRepExpr(merges)))
      .select(col("doc_id"),
        (length(col("rep")) - length(expr("replace(rep, '{', '')"))).as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("t")).as("n_bpe_tokens"))
  }

  /** Per-ROW encode under a fixed merge model — zero shuffles, zero
    * state: the word list never explodes, the token count folds per
    * document through higher-order functions with the merge literals
    * baked into the expression. This is the streaming serve path
    * ([[graft.streaming.DocStreams.bpeEncodeStream]]) and an exact twin
    * of the oracled aggregate query (integer arithmetic only — no
    * rounding to diverge on; parity spec-asserted). */
  private[graft] def bpeEncodeLit(docs: DataFrame,
                                  merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val rep = bpeRepExpr(merges, "w")
    docs
      .select(col("doc_id"), expr(
        "filter(split(text, ' '), x -> length(x) >= 1 AND length(x) <= 32)")
        .as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr(
          s"""aggregate(ws, CAST(0 AS BIGINT), (acc, w) ->
             |  acc + CAST(length($rep) - length(replace($rep, '{', ''))
             |             AS BIGINT))""".stripMargin).as("n_bpe_tokens"))
  }

  def bpeEncodeSql(rounds: Int = 10): String =
    s"""${bpeCtes(rounds)}
       |SELECT doc_id, count(*) AS n_words,
       |       CAST(sum(t) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |      FROM documents) dw
       |JOIN (SELECT w, len(rep) - len(replace(rep, '{', '')) AS t
       |      FROM v$rounds) wt USING (w)
       |WHERE len(w) BETWEEN 1 AND 32
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The shared unrolled training CTEs (wf → v0 → p/b/v per round),
    * carrying the raw word alongside its evolving representation so the
    * encode twin can join back. MATERIALIZED cuts per round — the kCore
    * discipline. */
  private def bpeCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |         CAST(sum(freq) AS BIGINT) AS wt
         |  FROM (SELECT freq,
         |          list_transform(list_filter(string_split(rep, '}'),
         |                                     x -> x <> ''),
         |                         x -> x[2:]) AS syms
         |        FROM v${r - 1}),
         |       UNNEST(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT a, b, wt FROM p$r ORDER BY wt DESC, a, b LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT w, replace(rep, '{' || a || '}{' || b || '}',
         |                 '{' || a || b || '}') AS rep, freq
         |  FROM v${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS (
       |  SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) BETWEEN 1 AND 32
       |    AND w NOT LIKE '%{%' AND w NOT LIKE '%}%' AND w NOT LIKE '%''%'
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT w, array_to_string(
       |           list_transform(range(1, len(w) + 1),
       |                          i -> '{' || w[i] || '}'), '') AS rep,
       |         freq
       |  FROM wf),
       |$roundCtes""".stripMargin
  }

  /** DuckDB twin of [[bpeMerges]], unrolled per round with MATERIALIZED
    * cuts and operation-identical pair counting / argmax / replace. */
  def bpeMergesSql(rounds: Int = 10): String = {
    val out = (1 to rounds).map { r =>
      s"SELECT $r AS rk, a, b, wt FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"""${bpeCtes(rounds)}
       |SELECT CAST(rk AS INT) AS rank, a AS tok_left, b AS tok_right,
       |       wt AS weight
       |FROM ($out)
       |ORDER BY rank""".stripMargin
  }

  /** Top-50 corpus word bigrams — the collocation count feeding phrase
    * vocabularies and tokenizer merge decisions. Same shape as
    * [[tokenTopk]] one order up: explode bigrams (the CASE guard matters
    * — Spark's `sequence(1, 0)` DESCENDS, so single-token docs must emit
    * an empty array, matching DuckDB's empty `generate_series`), partial
    * counts collapse map-side before the one exchange, and the top-50
    * plans as TakeOrderedAndProject (bounded heap, never a global
    * sort). */
  def tokenBigrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(split(col("text"), " ").as("ws"))
      .select(explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> concat_ws(' ', slice(ws, i, 2)))
          |  ELSE CAST(array() AS array<string>) END""".stripMargin)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(50)

  val tokenBigramsSql: String =
    """SELECT bigram, count(*) AS n FROM (
      |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
      |                i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      |  FROM (SELECT string_split(text, ' ') AS ws FROM documents))
      |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 50""".stripMargin

  /** `token_pmi` (oracled): top-20 collocations per language by pointwise
    * mutual information over the corpus bigram distribution —
    * PMI(a,b) = ln( p(a,b) / (p₁(a)·p₂(b)) ) with p₁/p₂ the prefix/suffix
    * MARGINALS of that same distribution, so every number derives from ONE
    * bigram count frame (the [[qualityBigramLogprob]] c(v·) trick: corpus
    * scanned once, marginals and the per-lang total re-aggregate from the
    * (lang, w1, w2) counts and ReuseExchange feeds all four consumers from
    * the same shuffle files). A support floor of 5 kills the c_ab=1
    * PMI-spike artifact every collocation extractor filters.
    *
    * Scale shape: the explode collapses map-side into the one wide-key
    * aggregate; the marginal joins are shuffle joins on vocabulary-sized
    * frames (never the corpus); the per-lang totals frame is ≤ langs rows,
    * broadcast. The top-20 window rank-limits (WindowGroupLimit), so each
    * partition pre-prunes to its own top-20 per language before the
    * exchange. Float discipline: PMI is one ln of an identically-
    * parenthesized double ratio of exact integers, round(6); ordering uses
    * the ROUNDED value with (w1, w2) tie-breaks, so selection is stable
    * cross-engine. */
  def tokenPmi(s: SparkSession, d: String): DataFrame = {
    // the explicit repartition pins ONE exchange all four consumers of the
    // bigram counts read from (the sampleTokenBudget discipline) — without
    // it each of big/m1/m2/nb re-derives the corpus scan + explode, a 4×
    // I/O tax on the TEXT column at 100 TB. The isNotNull filter sits
    // BELOW the exchange so the per-branch join-key null filters the
    // planner pushes down are already present and every subtree stays
    // byte-identical for ReuseExchange.
    val pairs = docs(s, d)
      .select(col("lang"), split(col("text"), " ").as("ws"))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> struct(element_at(ws, i) AS w1,
          |                             element_at(ws, i + 1) AS w2))
          |  ELSE CAST(array() AS array<struct<w1:string,w2:string>>)
          |END""".stripMargin)).as("bg"))
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .where(col("lang").isNotNull && col("w1").isNotNull &&
        col("w2").isNotNull)
      .repartition(col("lang"), col("w1"), col("w2"))
    val big = pairs.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val m1 = big.groupBy(col("lang"), col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val m2 = big.groupBy(col("lang"), col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val nb = big.groupBy(col("lang")).agg(sum(col("c_ab")).as("n_b"))
    val scored = big.where(col("c_ab") >= 5)
      .join(m1, Seq("lang", "w1"))
      .join(m2, Seq("lang", "w2"))
      .join(broadcast(nb), Seq("lang"))
      .withColumn("pmi", round(log(
        (col("c_ab").cast("double") * col("n_b").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)))
      .where(col("rank") <= 20)
      .select(col("lang"), col("rank"), col("w1"), col("w2"),
        col("c_ab"), col("pmi"))
  }

  val tokenPmiSql: String =
    """WITH pairs AS (
      |  SELECT lang,
      |    unnest(list_transform(generate_series(1, len(ws) - 1),
      |                          i -> ws[i])) AS w1,
      |    unnest(list_transform(generate_series(1, len(ws) - 1),
      |                          i -> ws[i + 1])) AS w2
      |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)),
      |big AS (
      |  SELECT lang, w1, w2, count(*) AS c_ab FROM pairs GROUP BY 1, 2, 3),
      |m1 AS (SELECT lang, w1, sum(c_ab) AS c_a FROM big GROUP BY 1, 2),
      |m2 AS (SELECT lang, w2, sum(c_ab) AS c_b FROM big GROUP BY 1, 2),
      |nb AS (SELECT lang, sum(c_ab) AS n_b FROM big GROUP BY 1),
      |scored AS (
      |  SELECT big.lang, big.w1, big.w2, big.c_ab,
      |    round(ln((CAST(big.c_ab AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |             (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 6) AS pmi
      |  FROM big
      |  JOIN m1 ON big.lang = m1.lang AND big.w1 = m1.w1
      |  JOIN m2 ON big.lang = m2.lang AND big.w2 = m2.w2
      |  JOIN nb ON big.lang = nb.lang
      |  WHERE big.c_ab >= 5)
      |SELECT lang, CAST(row_number() OVER (PARTITION BY lang
      |         ORDER BY pmi DESC, w1 ASC, w2 ASC) AS INT) AS rank,
      |       w1, w2, c_ab, pmi
      |FROM scored
      |QUALIFY rank <= 20
      |ORDER BY lang, rank""".stripMargin

  /** Shared LLR term sum — written ONCE and spliced verbatim into both
    * engines' expressions so the float path is identically parenthesized
    * (the [[tokenPmi]] discipline). Dunning's G² over the bigram 2×2
    * contingency table (o11=c_ab, o12=c_a−c_ab, o21=c_b−c_ab,
    * o22=n_b−c_a−c_b+c_ab; e_ij = rowsumᵢ·colsumⱼ/n_b):
    * G² = 2·Σ oᵢⱼ·ln(oᵢⱼ/eᵢⱼ), with the 0·ln(0)=0 limit made explicit
    * per term. Each ln argument is one double ratio of exact-integer
    * products — both engines convert the same int64s to double
    * (round-to-nearest, IEEE-identical) and the term sum is a fixed
    * 4-term expression, not an order-free aggregate, so round(…,6)
    * hash-oracles. Every zero-numerator case (oᵢⱼ=0) subsumes the
    * zero-denominator ones: oᵢⱼ≤ its margin product's factors, so a zero
    * denominator forces oᵢⱼ=0 and the CASE short-circuits the ln. */
  private val llrTermSql: String =
    """round(2 * (
      |  (CASE WHEN c_ab = 0 THEN 0.0
      |        ELSE CAST(c_ab AS DOUBLE) *
      |             ln((CAST(c_ab AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |                (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) END) +
      |  (CASE WHEN c_a - c_ab = 0 THEN 0.0
      |        ELSE CAST(c_a - c_ab AS DOUBLE) *
      |             ln((CAST(c_a - c_ab AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |                (CAST(c_a AS DOUBLE) * CAST(n_b - c_b AS DOUBLE))) END) +
      |  (CASE WHEN c_b - c_ab = 0 THEN 0.0
      |        ELSE CAST(c_b - c_ab AS DOUBLE) *
      |             ln((CAST(c_b - c_ab AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |                (CAST(n_b - c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) END) +
      |  (CASE WHEN n_b - c_a - c_b + c_ab = 0 THEN 0.0
      |        ELSE CAST(n_b - c_a - c_b + c_ab AS DOUBLE) *
      |             ln((CAST(n_b - c_a - c_b + c_ab AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |                (CAST(n_b - c_a AS DOUBLE) * CAST(n_b - c_b AS DOUBLE))) END)
      |), 6)""".stripMargin

  /** `token_collocations_llr` (oracled): top-20 collocations per language
    * by Dunning's log-likelihood ratio — the statistically sound twin of
    * [[tokenPmi]] (PMI over-rewards rare pairs even above the support
    * floor; G² weighs evidence MASS, so `of the` and true multi-word
    * units rank by how unexplainable their co-occurrence is under
    * independence, Dunning 1993). Attraction only: pairs are kept when
    * observed > expected (c_ab·n_b > c_a·c_b) — G² is two-sided and
    * would otherwise surface strongly REPELLED common-word pairs.
    *
    * Same frame as tokenPmi: ONE corpus scan + explode into the pinned
    * (lang,w1,w2) exchange, marginals re-aggregate from the bigram counts
    * (never the corpus), per-lang totals broadcast, top-20 window
    * rank-limits (WindowGroupLimit prunes per partition before the
    * exchange). Float discipline: [[llrTermSql]] — one shared expression
    * string, identically parenthesized in both engines; ranking uses the
    * ROUNDED value with (w1,w2) tie-breaks. The attraction test runs on
    * double products: exact through 2^53 (corpus-safe far beyond sf1),
    * and IEEE-identical in both engines beyond that. */
  def tokenCollocationsLlr(s: SparkSession, d: String): DataFrame = {
    val pairs = docs(s, d)
      .select(col("lang"), split(col("text"), " ").as("ws"))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> struct(element_at(ws, i) AS w1,
          |                             element_at(ws, i + 1) AS w2))
          |  ELSE CAST(array() AS array<struct<w1:string,w2:string>>)
          |END""".stripMargin)).as("bg"))
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .where(col("lang").isNotNull && col("w1").isNotNull &&
        col("w2").isNotNull)
      .repartition(col("lang"), col("w1"), col("w2"))
    val big = pairs.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val m1 = big.groupBy(col("lang"), col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val m2 = big.groupBy(col("lang"), col("w2")).agg(sum(col("c_ab")).as("c_b"))
    val nb = big.groupBy(col("lang")).agg(sum(col("c_ab")).as("n_b"))
    val scored = big.where(col("c_ab") >= 5)
      .join(m1, Seq("lang", "w1"))
      .join(m2, Seq("lang", "w2"))
      .join(broadcast(nb), Seq("lang"))
      .where(expr("CAST(c_ab AS DOUBLE) * CAST(n_b AS DOUBLE) > " +
        "CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)"))
      .withColumn("llr", expr(llrTermSql))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("llr").desc, col("w1").asc, col("w2").asc)))
      .where(col("rank") <= 20)
      .select(col("lang"), col("rank"), col("w1"), col("w2"),
        col("c_ab"), col("llr"))
  }

  val tokenCollocationsLlrSql: String =
    s"""WITH pairs AS (
      |  SELECT lang,
      |    unnest(list_transform(generate_series(1, len(ws) - 1),
      |                          i -> ws[i])) AS w1,
      |    unnest(list_transform(generate_series(1, len(ws) - 1),
      |                          i -> ws[i + 1])) AS w2
      |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)),
      |big AS (
      |  SELECT lang, w1, w2, count(*) AS c_ab FROM pairs GROUP BY 1, 2, 3),
      |m1 AS (SELECT lang, w1, sum(c_ab) AS c_a FROM big GROUP BY 1, 2),
      |m2 AS (SELECT lang, w2, sum(c_ab) AS c_b FROM big GROUP BY 1, 2),
      |nb AS (SELECT lang, sum(c_ab) AS n_b FROM big GROUP BY 1),
      |scored AS (
      |  SELECT big.lang, big.w1, big.w2, big.c_ab,
      |    ${llrTermSql.replace("\n", "\n    ")} AS llr
      |  FROM big
      |  JOIN m1 ON big.lang = m1.lang AND big.w1 = m1.w1
      |  JOIN m2 ON big.lang = m2.lang AND big.w2 = m2.w2
      |  JOIN nb ON big.lang = nb.lang
      |  WHERE big.c_ab >= 5
      |    AND CAST(big.c_ab AS DOUBLE) * CAST(n_b AS DOUBLE) >
      |        CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))
      |SELECT lang, CAST(row_number() OVER (PARTITION BY lang
      |         ORDER BY llr DESC, w1 ASC, w2 ASC) AS INT) AS rank,
      |       w1, w2, c_ab, llr
      |FROM scored
      |QUALIFY rank <= 20
      |ORDER BY lang, rank""".stripMargin

  /** `token_textrank` (oracled): top-10 keywords per language by TextRank
    * (Mihalcea & Tarau 2004) — damped PageRank over the word co-occurrence
    * graph, the extractive-keyword primitive a corpus-profiling pipeline
    * runs where raw frequency (tfidf/topk) over-rewards ubiquity: a token
    * ranks by how central it is to the lang's co-occurrence STRUCTURE.
    *
    * Graph: adjacent-token pairs per doc (window 2, the paper's default),
    * canonicalized undirected with self-pairs dropped, weighted by corpus
    * adjacency count; one corpus scan + explode feeds the (lang,w1,w2)
    * count exchange ([[tokenPmi]]'s frame). The iteration is DEFINED as
    * exactly `iterations` damped rounds from the uniform start — the
    * [[graft.operators.Citations.lpa]] convention: both engines unroll the
    * same fixed count, no fixpoint claim (measured at sf0.01: max per-node
    * movement decays ~10× per round, ≤9 picounits by round 12).
    *
    * Float-free: ranks live in integer picounits (10¹² total mass per
    * lang) and each round's edge term is floor((17·w·pr)/(20·W)) — d=0.85
    * as the exact rational 17/20, per-term integer floor-div, order-free
    * integer sums, so both engines produce identical bits at any scale
    * (the events_markov_stationary discipline, here DISTRIBUTED: vocab
    * grows with the corpus, so rounds are joins, not a driver model).
    * Per-term arithmetic runs in DECIMAL(38,0)/HUGEINT — 17·w·pr can pass
    * 2^63 at corpus scale — but every quotient and sum is bounded by the
    * invariant per-lang mass (≤10¹²), so stored ranks stay BIGINT.
    *
    * Scale shape: the pair frame is pinned once (localCheckpoint — 2+2·
    * rounds consumers would otherwise re-run the corpus scan+explode per
    * round, the [[tokenPmi]] 4× I/O tax squared); each round is ONE
    * node-keyed hash join + one aggregate over edge-scale rows, rank
    * frames carry their weighted degree and base term so no round touches
    * the corpus ([[graft.operators.Citations.pageRank]]'s carry + release
    * discipline, cut cadence 3). Top-10 window rank-limits per lang. */
  def tokenTextrank(s: SparkSession, d: String,
                    iterations: Int = 10, topK: Int = 10): DataFrame =
    tokenTextrankFrom(docs(s, d), iterations, topK)

  /** [[tokenTextrank]] over an explicit docs frame (lang, text) — the
    * eventsMarkovStationaryFrom convention, so specs can drive hand
    * graphs with exactly-known fixpoints. */
  def tokenTextrankFrom(docsDf: DataFrame,
                        iterations: Int = 10, topK: Int = 10): DataFrame = {
    val adj = docsDf
      .select(col("lang"), split(col("text"), " ").as("ws"))
      .select(col("lang"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> struct(element_at(ws, i) AS w1,
          |                             element_at(ws, i + 1) AS w2))
          |  ELSE CAST(array() AS array<struct<w1:string,w2:string>>)
          |END""".stripMargin)).as("bg"))
      .select(col("lang"), least(col("bg.w1"), col("bg.w2")).as("w1"),
        greatest(col("bg.w1"), col("bg.w2")).as("w2"))
      .where(col("lang").isNotNull && col("w1") =!= col("w2"))
    val pairs = adj.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    // NOT keyed: a sized, pinned cut on (lang, src) was tried in r16 and
    // measured SLOWER (4.54 s vs 3.28 s at sf0.1) — this loop is in the
    // pageRank regime (node-scale probe side + real per-round compute),
    // where AQE's per-stage widths beat a static pinned width; see
    // OPTIMIZATION_r16.md "per-operator pin decision".
    val edCut = pairs.select(col("lang"), col("w1").as("src"),
        col("w2").as("dst"), col("w"))
      .unionAll(pairs.select(col("lang"), col("w2").as("src"),
        col("w1").as("dst"), col("w")))
    val wdeg = edCut.groupBy(col("lang"), col("src").as("tok"))
      .agg(sum(col("w")).as("wdeg"))
    val nn = wdeg.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    // the node frame CARRIES wdeg and the per-lang teleport term, so each
    // round is one edge join + one aggregate, never a corpus re-touch
    val nodes = wdeg.join(broadcast(nn), Seq("lang"))
      .select(col("lang"), col("tok"), col("wdeg"),
        expr("(CAST(3 AS DECIMAL(38,0)) * 1000000000000) div (20 * n)")
          .as("base"))
      .localCheckpoint()
    val ranks0 = nodes
      .join(broadcast(nn), Seq("lang"))
      .select(col("lang"), col("tok"), col("wdeg"),
        expr("CAST(1000000000000 AS DECIMAL(38,0)) div n").as("pr"))
      .localCheckpoint()
    val ranks = Fixpoint.rounds(iterations, ranks0, every = 3) { (r, ranks) =>
      val inbox = edCut
        .join(ranks.select(col("lang"), col("tok").as("src"),
            col("wdeg").as("src_wdeg"), col("pr")).hint("shuffle_hash"),
          Seq("lang", "src"))
        .select(col("lang"), col("dst"),
          expr("(CAST(17 AS DECIMAL(38,0)) * w * pr) div " +
            "(CAST(20 AS DECIMAL(38,0)) * src_wdeg)").as("term"))
        .groupBy(col("lang"), col("dst")).agg(sum(col("term")).as("inflow"))
      r.cut(nodes
        .join(inbox, nodes("lang") === inbox("lang") &&
          nodes("tok") === inbox("dst"), "left_outer")
        .select(nodes("lang"), nodes("tok"), nodes("wdeg"),
          (nodes("base") + coalesce(col("inflow"), lit(0L))).as("pr")))
    }
    graft.Blocks.release(pairs)
    graft.Blocks.release(nodes)
    ranks
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("pr").desc, col("tok").asc)))
      .where(col("rank") <= topK)
      .select(col("lang"), col("rank"), col("tok").as("token"),
        col("pr").cast("long").as("score"))
  }

  /** DuckDB twin of [[tokenTextrank]]: the same integer-picounit rounds
    * unrolled as MATERIALIZED CTEs (un-hinted, DuckDB would inline the
    * deepening chain — the events_markov_stationary lesson), per-term
    * HUGEINT floor-div mirroring Spark's DECIMAL(38,0) `div`. */
  def tokenTextrankSql(iterations: Int = 10, topK: Int = 10): String = {
    val steps = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT nodes.lang, nodes.tok, nodes.wdeg,
         |         nodes.base + coalesce(inbox.inflow, 0) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT ed.lang, ed.dst AS tok,
         |           sum((CAST(17 AS HUGEINT) * ed.w * r.pr) //
         |               (CAST(20 AS HUGEINT) * r.wdeg)) AS inflow
         |    FROM ed JOIN r${i - 1} r
         |      ON r.lang = ed.lang AND r.tok = ed.src
         |    GROUP BY 1, 2) inbox
         |    ON inbox.lang = nodes.lang AND inbox.tok = nodes.tok)""".stripMargin
    }.mkString(",\n")
    s"""WITH adj AS (
       |  SELECT lang,
       |    unnest(list_transform(generate_series(1, len(ws) - 1),
       |                          i -> least(ws[i], ws[i + 1]))) AS w1,
       |    unnest(list_transform(generate_series(1, len(ws) - 1),
       |                          i -> greatest(ws[i], ws[i + 1]))) AS w2
       |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)),
       |pairs AS MATERIALIZED (
       |  SELECT lang, w1, w2, count(*) AS w FROM adj
       |  WHERE w1 <> w2 GROUP BY 1, 2, 3),
       |ed AS MATERIALIZED (
       |  SELECT lang, w1 AS src, w2 AS dst, w FROM pairs
       |  UNION ALL SELECT lang, w2, w1, w FROM pairs),
       |wdeg AS (SELECT lang, src AS tok, sum(w) AS wdeg FROM ed GROUP BY 1, 2),
       |nn AS (SELECT lang, count(*) AS n FROM wdeg GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT wdeg.lang, tok, wdeg,
       |         (CAST(3 AS HUGEINT) * 1000000000000) // (20 * n) AS base
       |  FROM wdeg JOIN nn ON wdeg.lang = nn.lang),
       |r0 AS MATERIALIZED (
       |  SELECT nodes.lang, tok, wdeg,
       |         CAST(1000000000000 AS HUGEINT) // n AS pr
       |  FROM nodes JOIN nn ON nodes.lang = nn.lang),
       |$steps
       |SELECT lang, CAST(row_number() OVER (PARTITION BY lang
       |         ORDER BY pr DESC, tok ASC) AS INT) AS rank,
       |       tok AS token, CAST(pr AS BIGINT) AS score
       |FROM r$iterations
       |QUALIFY rank <= $topK
       |ORDER BY lang, rank""".stripMargin
  }

  /** GPT-2-style BPE pre-tokenizer pattern: contraction suffixes, then
    * letter runs / digit runs / punctuation runs each with an optional
    * leading space, then whitespace runs. Alternation is leftmost-FIRST in
    * both engines (Java regex and DuckDB's RE2 both use Perl semantics,
    * not POSIX longest-match), so the token streams agree exactly. */
  val BpeTokenPattern: String =
    """'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** Top-50 BPE-style pre-tokens by corpus frequency — the regex twin of
    * [[tokenTopk]]'s whitespace split (an LLM pipeline counts tokens the
    * way its tokenizer will cut them, not the way spaces fall). Tokens
    * keep their leading space, GPT-2 style; pure-whitespace runs are
    * dropped. Same single-shuffle shape: explode collapses map-side, the
    * top-k plans as TakeOrderedAndProject. */
  def tokenBpe(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(regexp_extract_all(col("text"),
        lit(BpeTokenPattern), lit(0))).as("token"))
      .where(trim(col("token")) =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(50)

  val tokenBpeSql: String =
    s"""SELECT token, count(*) AS n
       |FROM (SELECT unnest(regexp_extract_all(text,
       |        '${BpeTokenPattern.replace("'", "''")}')) AS token
       |      FROM documents)
       |WHERE trim(token) <> ''
       |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin

  /** Tokenizer fertility per language: BPE-regex tokens per whitespace
    * word — the diagnostic a tokenizer team reads to see which languages
    * pay more tokens per word (fertility ≈ 1 for space-delimited prose
    * the pre-tokenizer agrees with; higher when punctuation/digit runs
    * split words apart). Both counts are exact per-row integers summed
    * exactly; the ratio is one division + round(6) — the house
    * discipline, so the per-lang rows hash-oracle. One scan, one
    * bounded-key aggregate (rows = #langs), map-side combine. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0))
    docs(s, d)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"),
        size(filter(toks, t => trim(t) =!= "")).cast("long").as("b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("b")).as("n_bpe"),
        round(sum(col("b")) * lit(1.0) / sum(col("w")), 6).as("fertility"))
  }

  val tokenizerFertilitySql: String =
    s"""WITH per AS (
       |  SELECT lang, len(string_split(text, ' ')) AS w,
       |         len(list_filter(regexp_extract_all(text,
       |             '${BpeTokenPattern.replace("'", "''")}'),
       |             t -> trim(t) <> '')) AS b
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(w) AS BIGINT) AS n_words,
       |       CAST(sum(b) AS BIGINT) AS n_bpe,
       |       round(sum(b) * 1.0 / sum(w), 6) AS fertility
       |FROM per GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document quality signals: token counts, type-token ratio, mean
    * token length, a BPE-ish subtoken count (ceil(len/4) per token, the
    * standard ~4-chars-per-token budget heuristic), and a quality flag.
    * All ratios are integer-derived single divisions rounded to 6. */
  def textQuality(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("n_chars"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        expr("aggregate(ws, CAST(0 AS BIGINT), (acc, w) -> acc + ((length(w) + 3) div 4))")
          .as("n_subtokens"),
        col("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_subtokens"),
        round((col("n_chars") - (col("n_tokens") - 1)) * 1.0 / col("n_tokens"), 6)
          .as("avg_token_len"),
        round(col("n_distinct") * 1.0 / col("n_tokens"), 6).as("ttr"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
          col("n_distinct") * 4 >= col("n_tokens")).as("is_quality"))

  val textQualitySql: String =
    """SELECT doc_id, n_tokens, n_distinct, n_subtokens,
      |  round((n_chars - (n_tokens - 1)) * 1.0 / n_tokens, 6) AS avg_token_len,
      |  round(n_distinct * 1.0 / n_tokens, 6) AS ttr,
      |  (n_tokens >= 20 AND n_tokens <= 1000 AND n_distinct * 4 >= n_tokens) AS is_quality
      |FROM (
      |  SELECT doc_id, n_chars,
      |    len(ws) AS n_tokens,
      |    len(list_distinct(ws)) AS n_distinct,
      |    CAST(list_sum(list_transform(ws, w -> (len(w) + 3) // 4)) AS BIGINT) AS n_subtokens
      |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Percentile-threshold quality selection — "keep the top half of the
    * corpus by type-token ratio": the quantile-cut every mixing recipe
    * applies before training. Shape at 100 TB: scoring is a pure per-row
    * projection; the median is ONE scalar aggregate whose state is
    * bounded BY CONSTRUCTION — `percentile` accumulates counts per
    * distinct value, and ttr rounds to a 6-dp grid in [0, 1], so the
    * map can never exceed ~10^6 entries no matter the corpus size; the
    * threshold then folds back as a 1-row broadcast and the filter is
    * codegen'd. (With an unbounded score domain, swap in
    * percentile_approx — same plan, mergeable GK state — and lose the
    * oracle; the bounded grid is what lets this one stay exact AND
    * hash-oracled.) Both engines interpolate the same (1-g)*lo + g*hi on
    * the same rounded doubles (the agg_percentiles precedent), so the
    * threshold and the kept set match exactly. */
  /** (doc_id, ttr): type-token ratio on the 6-dp grid — the shared score
    * column of the two quantile-cut operators below. */
  private def ttrScored(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        round(size(array_distinct(col("ws"))) * lit(1.0) / size(col("ws")), 6)
          .as("ttr"))

  def qualityThresholdFilter(s: SparkSession, d: String): DataFrame = {
    val scored = ttrScored(s, d)
    val thresh = scored
      .agg(round(expr("percentile(ttr, 0.5)"), 6).as("ttr_median"))
    scored.crossJoin(broadcast(thresh))
      .where(col("ttr") >= col("ttr_median"))
      .select(col("doc_id"), col("ttr"), col("ttr_median"))
  }

  val qualityThresholdFilterSql: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |         round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS ttr
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |t AS (SELECT round(quantile_cont(ttr, 0.5), 6) AS ttr_median FROM scored)
      |SELECT doc_id, ttr, ttr_median FROM scored, t
      |WHERE ttr >= ttr_median ORDER BY doc_id""".stripMargin

  /** Decile bucketing by quality score WITHOUT a global sort: `ntile()`
    * over the whole corpus would funnel every row through one partition
    * (the O(input) scale bomb); instead the 9 decile thresholds come from
    * ONE bounded-state scalar aggregate (same 6-dp-grid `percentile`
    * argument as [[qualityThresholdFilter]]), fold back as a 1-row
    * broadcast, and each doc's bucket is a codegen'd sum of 9 threshold
    * comparisons — a pure projection over one corpus scan. Ties land
    * deterministically (>= on the shared grid), unlike ntile's
    * arbitrary-split semantics, so the twin hash-matches. */
  def qualityDeciles(s: SparkSession, d: String): DataFrame = {
    val scored = ttrScored(s, d)
    val ths = (1 to 9).map(i =>
      round(expr(s"percentile(ttr, 0.$i)"), 6).as(s"t$i"))
    val th = scored.agg(ths.head, ths.tail: _*)
    val decile = (1 to 9).map(i =>
      (col("ttr") >= col(s"t$i")).cast("int")).reduce(_ + _) + 1
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("ttr"), decile.cast("int").as("decile"))
  }

  val qualityDecilesSql: String = {
    val ts = (1 to 9).map(i =>
      s"round(quantile_cont(ttr, 0.$i), 6) AS t$i").mkString(", ")
    val ind = (1 to 9).map(i => s"CAST(ttr >= t$i AS INT)").mkString(" + ")
    s"""WITH scored AS (
       |  SELECT doc_id,
       |         round(len(list_distinct(ws)) * 1.0 / len(ws), 6) AS ttr
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |t AS (SELECT $ts FROM scored)
       |SELECT doc_id, ttr, CAST(1 + $ind AS INT) AS decile
       |FROM scored, t ORDER BY doc_id""".stripMargin
  }

  /** The ten highest-frequency English function words — the fixed
    * stopword list behind [[qualityGopher]]'s has-stopwords rule. */
  private val gopherStops: Seq[String] =
    Seq("the", "of", "and", "to", "in", "a", "is", "that", "for", "it")

  /** Gopher-style ABSOLUTE quality gate (the rule family of Rae et al.
    * 2021 §A1.1, restricted to what raw text alone supports): word count
    * in [50, 100000], mean word length in [3, 10], ≥2 hits from a fixed
    * 10-stopword list, and ≥80% of words containing a lowercase letter.
    * Emits every document with its rule inputs plus the 0/1 verdict, so a
    * downstream sampler can re-weight borderline docs instead of
    * re-scoring. Unlike [[qualityThresholdFilter]]/[[qualityDeciles]]
    * there is NO corpus percentile here, hence no scalar-fold crossJoin:
    * the whole operator is one scan + one codegen'd projection — ZERO
    * exchanges at any corpus size, the cheapest possible 100-TB shape.
    * Determinism: n_words/stop_cnt are exact integers; mean_wl and
    * alpha_frac are one integer-sum division + round(6) with identical
    * operation order in the DuckDB twin; the verdict compares only those
    * shared-grid values, so keep is bit-stable cross-engine. */
  def qualityGopher(s: SparkSession, d: String): DataFrame = {
    val stops = gopherStops.map(w => s"'$w'").mkString(", ")
    docs(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .select(col("doc_id"),
        expr("CAST(size(ws) AS BIGINT)").as("n_words"),
        expr("round(CAST(aggregate(ws, 0L, (a, w) -> a + length(w))" +
          " AS DOUBLE) / size(ws), 6)").as("mean_wl"),
        expr(s"CAST(size(filter(ws, w -> w IN ($stops))) AS BIGINT)")
          .as("stop_cnt"),
        expr("round(CAST(size(filter(ws, w -> w rlike '[a-z]'))" +
          " AS DOUBLE) / size(ws), 6)").as("alpha_frac"))
      .withColumn("keep",
        (col("n_words").between(50, 100000) &&
          col("mean_wl").between(3.0, 10.0) &&
          col("stop_cnt") >= 2 &&
          col("alpha_frac") >= 0.8).cast("int"))
  }

  val qualityGopherSql: String = {
    val stops = gopherStops.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |         len(ws) AS n_words,
       |         round(list_sum(list_transform(ws, w -> len(w))) * 1.0
       |               / len(ws), 6) AS mean_wl,
       |         len(list_filter(ws, w -> w IN ($stops))) AS stop_cnt,
       |         round(len(list_filter(ws,
       |                 w -> regexp_matches(w, '[a-z]'))) * 1.0
       |               / len(ws), 6) AS alpha_frac
       |  FROM w)
       |SELECT doc_id, n_words, mean_wl, stop_cnt, alpha_frac,
       |       CAST(n_words BETWEEN 50 AND 100000
       |            AND mean_wl BETWEEN 3 AND 10
       |            AND stop_cnt >= 2
       |            AND alpha_frac >= 0.8 AS INT) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** Sliding-window document chunking — the pre-tokenization step every
    * context-bounded consumer (embedding model, retrieval index, training
    * sequence builder) applies: width-32 word windows at stride 24 (8-word
    * overlap), a short final chunk kept so every token lands in ≥1 chunk.
    * Chunk count is exact-integer math (1 + ceil-div(n-width, stride) via
    * `(x + s-1) div s` — no floats anywhere, so the twin trivially
    * hash-matches). Shape at 100 TB: a stateless projection + explode —
    * zero shuffles, whole-stage codegen end to end, and rows fan out by
    * only ~width/stride ≈ 1.33×; chunk boundaries never cross documents,
    * so partitioning is preserved and downstream per-chunk work
    * (embedding, dedup) parallelizes on the same splits. */
  def docChunks(s: SparkSession, d: String,
                width: Int = 32, stride: Int = 24): DataFrame =
    docChunksFrom(docs(s, d), width, stride)

  /** Frame-based core of [[docChunks]] — a pure per-row projection +
    * explode, so the SAME code is the streaming chunker at ingest
    * ([[graft.streaming.DocStreams.chunkStream]]). */
  def docChunksFrom(docs: DataFrame,
                    width: Int = 32, stride: Int = 24): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .withColumn("t",
        (expr(s"(greatest(n - $width, 0) + ${stride - 1}) div $stride") + 1)
          .cast("int"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("t") - 1)).as("chunk_idx"), col("ws"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("ws"), col("chunk_idx") * stride + 1, lit(width)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))

  val docChunksSql: String =
    """WITH base AS (
      |  SELECT doc_id, ws, len(ws) AS n
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |c AS (
      |  SELECT doc_id, ws,
      |         CAST(unnest(generate_series(0, (greatest(n - 32, 0) + 23) // 24)) AS INT) AS chunk_idx
      |  FROM base)
      |SELECT doc_id, chunk_idx,
      |       CAST(len(ws[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS INT) AS n_tokens,
      |       array_to_string(ws[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Marker-word language ID: count stopword hits per language, argmax with
    * alphabetical tie-break. A deliberately simple, fully deterministic
    * n-gram-free heuristic — the point is the distributed shape (pure
    * per-row projection, no shuffle) and cross-engine reproducibility;
    * linguistic quality is tested on real sentences in TextAnalysisSpec. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "los", "que", "es", "una", "y"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "我"))

  private def markerList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("array(", ", ", ")")

  /** (doc_id, lang, pred_lang, score) over any (doc_id, lang, text)
    * frame — the shared prediction subtree of [[langIdFrom]] (per-doc
    * output) and [[langIdEval]] (confusion matrix). */
  private def langPredictions(input: DataFrame): DataFrame = {
    val scoreCols = markers.map { case (l, ws) =>
      expr(s"CAST(size(filter(ws, w -> array_contains(${markerList(ws)}, w))) AS BIGINT)")
        .as(s"s_$l")
    }
    val langs = markers.map(_._1)
    // argmax with alphabetical tie-break: first lang (in sorted order)
    // whose score is >= all later ones
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((l, i), acc) =>
        val rest = langs.drop(i + 1)
        when(rest.map(r => col(s"s_$l") >= col(s"s_$r")).reduce(_ && _), lit(l))
          .otherwise(acc)
    }
    input
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id") +: col("lang") +: scoreCols: _*)
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
        greatest(langs.map(l => col(s"s_$l")): _*).as("score"))
  }

  /** Core of the heuristic over any (doc_id, lang, text) frame — exposed
    * so the spec can feed real sentences, not just the synthetic corpus. */
  def langIdFrom(input: DataFrame): DataFrame =
    langPredictions(input)
      .select(col("doc_id"), col("pred_lang"), col("score"),
        (col("pred_lang") === col("lang")).as("is_match"))

  def langId(s: SparkSession, d: String): DataFrame = langIdFrom(docs(s, d))

  /** `lang_id_fasttext` (oracled): a SUPERVISED bag-of-features linear
    * classifier in the fastText mold (Joulin et al. 2016) beside the
    * marker-word [[langId]] heuristic — features are word unigrams PLUS
    * the char 3-grams of each boundary-marked word (`<w>`, fastText's
    * subword signature), and the linear model is fit in closed form as
    * multinomial Naive Bayes on the corpus's own labels (the NB-SVM
    * baseline family): per class, logP(f|c) = ln((cnt+1)/(tot_c+V))
    * Laplace-smoothed, prior ln(n_c/N), prediction the argmax of
    * prior + Σ_f k_f·logP(f|c). NB IS a linear classifier over these
    * counts, so this is the exactly-computable stand-in for the
    * SGD-trained softmax (no float training loop to replicate).
    *
    * Float discipline ([[qualityBigramLogprob]]'s): each ln of an
    * exact-integer ratio rounds to 9 dp into DECIMAL(18,9); per-doc
    * accumulation is k(DECIMAL 18,0)·logp summed EXACTLY, so scores
    * have zero summation-order exposure and the argmax tie-break
    * (score DESC, lang ASC) is deterministic on both engines.
    *
    * Scale shape: ONE corpus scan explodes (doc, feature, k); the model
    * (class × feature counts) re-aggregates from those rows; scoring
    * fans each doc-feature row out by the |langs|-row broadcast class
    * table and left-probes the model hash-partitioned on (lang, f) —
    * unseen (lang, f) pairs score at the smoothed floor via coalesce,
    * never materializing the dense |V|×|langs| matrix. Nothing
    * corpus-sized crosses a single partition; the argmax is the
    * min-struct map-side-combinable aggregate. */
  def langIdFasttext(s: SparkSession, d: String): DataFrame =
    langIdFasttextFrom(docs(s, d))

  /** Core over any (doc_id, lang, text) frame — the [[langIdFrom]]
    * seam, so the spec can feed a hand-checkable fixture. */
  def langIdFasttextFrom(input: DataFrame): DataFrame = {
    val docsIn = input.localCheckpoint() // one cut: 3 readers below
    // feature rows via plain generators, NOT higher-order functions:
    // the original flatten(transform(.., transform(sequence(..)))) is
    // CodegenFallback — every row pays interpreted lambda evaluation
    // inside the hottest stage (r16 census: the dfk cut dominates the
    // query's executor time). explode(split(..)), explode(sequence(..))
    // and substring are all whole-stage-codegen; the unionAll's second
    // pass over `words` re-runs only a narrow projection of the
    // checkpointed docs frame. Row multiset of (doc_id, lang, f) is
    // identical (order never mattered — the next step is a groupBy).
    val words = docsIn
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("x"))
      .where(length(col("x")) >= 1)
    val dfk = words
      .select(col("doc_id"), col("lang"),
        concat(lit("W:"), col("x")).as("f"))
      .unionAll(words
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(1, length(x))")).as("i"), col("x"))
        .select(col("doc_id"), col("lang"),
          expr("concat('C:', substring(concat('<', x, '>'), i, 3))").as("f")))
      .groupBy(col("doc_id"), col("lang"), col("f"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint() // one corpus scan feeds trainer + scorer
    val clf = dfk.groupBy(col("lang").as("clang"), col("f"))
      .agg(sum(col("k")).as("c"))
    val nd = docsIn.groupBy(col("lang").as("clang"))
      .agg(count(lit(1)).as("n_docs"))
    val ndAll = docsIn.agg(count(lit(1)).as("n_all"))
    val vocab = clf.agg(count_distinct(col("f")).as("vsz"))
    val classes = clf.groupBy(col("clang")).agg(sum(col("c")).as("tot"))
      .join(nd, Seq("clang"))
      .crossJoin(ndAll)
      .select(col("clang"), col("tot"),
        round(log(col("n_docs").cast("double") / col("n_all").cast("double")), 9)
          .cast("decimal(18,9)").as("prior"))
    val terms = dfk
      .crossJoin(broadcast(classes))
      .join(clf, Seq("clang", "f"), "left_outer")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("lang"), col("clang"), col("prior"),
        (col("k").cast("decimal(18,0)") *
          round(log((coalesce(col("c"), lit(0L)) + lit(1)).cast("double")
            / (col("tot") + col("vsz")).cast("double")), 9)
            .cast("decimal(18,9)")).as("term"))
    val scores = terms
      .groupBy(col("doc_id"), col("lang"), col("clang"))
      // sum is DECIMAL(38,9); adding the (18,9) prior would need p39 and
      // Spark's precision-loss rule silently drops to scale 8 (a 1e-9
      // drift vs the twin, measured at sf0.01). The value is ≤10⁶, so
      // bounding the sum to (30,9) keeps the add exact at scale 9.
      .agg((first(col("prior"))
        + sum(col("term")).cast("decimal(30,9)")).as("score"))
    scores
      .groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"), col("clang").as("cl"))).as("m"))
      // round the EXACT decimal, then cast: rounding after the double
      // cast diverges on half-way scores (a 9-dp decimal ending in 500
      // at the 6-dp boundary — measured at sf0.01 doc 201)
      .select(col("doc_id"), col("m.cl").as("pred_lang"),
        round(-col("m.ns"), 6).cast("double").as("score"),
        (col("m.cl") === col("lang")).as("is_match"))
  }

  val langIdFasttextSql: String =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |         list_filter(string_split(text, ' '), w -> len(w) >= 1) AS ws
      |  FROM documents),
      |dfk AS (
      |  SELECT doc_id, lang, f, count(*) AS k FROM (
      |    SELECT doc_id, lang,
      |      unnest(flatten(list_transform(ws, x -> list_concat(
      |        ['W:' || x],
      |        list_transform(range(1, len(x) + 1),
      |                       i -> 'C:' || ('<' || x || '>')[i:i+2]))))) AS f
      |    FROM base)
      |  GROUP BY 1, 2, 3),
      |clf AS (SELECT lang AS clang, f, CAST(sum(k) AS BIGINT) AS c
      |        FROM dfk GROUP BY 1, 2),
      |nd AS (SELECT lang AS clang, count(*) AS n_docs FROM documents GROUP BY 1),
      |ndall AS (SELECT count(*) AS n_all FROM documents),
      |vocab AS (SELECT count(DISTINCT f) AS vsz FROM clf),
      |classes AS (
      |  SELECT clang, tot,
      |    CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE)), 9)
      |         AS DECIMAL(18,9)) AS prior
      |  FROM (SELECT clang, CAST(sum(c) AS BIGINT) AS tot FROM clf GROUP BY 1)
      |  JOIN nd USING (clang), ndall),
      |terms AS (
      |  SELECT doc_id, lang, cl.clang, cl.prior,
      |    CAST(k AS DECIMAL(18,0)) *
      |    CAST(round(ln(CAST(COALESCE(m.c, 0) + 1 AS DOUBLE)
      |                  / CAST(cl.tot + v.vsz AS DOUBLE)), 9)
      |         AS DECIMAL(18,9)) AS term
      |  FROM dfk
      |  CROSS JOIN classes cl
      |  LEFT JOIN clf m ON m.clang = cl.clang AND m.f = dfk.f
      |  CROSS JOIN vocab v),
      |scores AS (
      |  SELECT doc_id, lang, clang,
      |         any_value(prior) + CAST(sum(term) AS DECIMAL(30,9)) AS score
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT doc_id, clang AS pred_lang,
      |       CAST(round(score, 6) AS DOUBLE) AS score,
      |       (clang = lang) AS is_match
      |FROM (SELECT doc_id, lang, clang, score,
      |             row_number() OVER (PARTITION BY doc_id
      |                                ORDER BY score DESC, clang) AS rn
      |      FROM scores)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Lang-id confusion matrix — the EVAL query a pipeline runs after any
    * classifier stage: one row per (label, prediction) cell. Same
    * prediction subtree as [[langId]] (per-row projection), then one
    * tiny aggregate whose key space is #langs² by construction. */
  def langIdEval(s: SparkSession, d: String): DataFrame =
    langPredictions(docs(s, d))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  val langIdSql: String = {
    def duckList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val scores = markers.map { case (l, ws) =>
      s"CAST(len(list_filter(ws, w -> list_contains(${duckList(ws)}, w))) AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
    """SELECT doc_id,
      |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END AS pred_lang,
      |  greatest(s_de, s_en, s_es, s_fr, s_zh) AS score,
      |  (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END) = lang AS is_match
      |FROM (
      |  SELECT doc_id, lang,
      |    SCORES
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents))
      |ORDER BY doc_id""".stripMargin.replace("SCORES", scores)
  }

  val langIdEvalSql: String = {
    def duckList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val scores = markers.map { case (l, ws) =>
      s"CAST(len(list_filter(ws, w -> list_contains(${duckList(ws)}, w))) AS BIGINT) AS s_$l"
    }.mkString(",\n    ")
    """WITH p AS (
      |  SELECT lang,
      |    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |         WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |         WHEN s_fr >= s_zh THEN 'fr'
      |         ELSE 'zh' END AS pred_lang
      |  FROM (
      |    SELECT doc_id, lang,
      |      SCORES
      |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)))
      |SELECT lang, pred_lang, count(*) AS n_docs
      |FROM p GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
        .replace("SCORES", scores)
  }

  /** Content fingerprints: whole-text md5 (exact-dup key) and the minimum
    * md5 over word-3-gram shingles (a 1-hash minhash — stable under small
    * edits, the usual cheap near-dup prefilter key). */
  /** Rolling-fingerprint = min(md5) over the word 3-gram shingles, built
    * the explode-then-min-aggregate way (the same shape Dedup's MinHash
    * uses): one codegen'd slice/concat/md5 per shingle row, collapsed by a
    * map-side-combining `min` before the doc_id exchange. The previous
    * nested-`transform` HOF form computed the identical value but paid the
    * lambda interpreter per shingle — measured ~6× slower at sf0.1. The
    * exact fingerprint rides in on a slim (doc_id, md5) join; both sides
    * exchange 16-byte-ish rows, never document bodies. */
  def docFingerprint(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val mins = Dedup.wordShingleRowsFrom(base, 3)
      .groupBy(col("doc_id")).agg(min(md5(col("sh"))).as("shingle_fp"))
    base.select(col("doc_id"), md5(col("text")).as("exact_fp"))
      .join(mins, Seq("doc_id"))
      .select(col("doc_id"), col("exact_fp"), col("shingle_fp"))
  }

  val docFingerprintSql: String =
    """SELECT doc_id, md5(text) AS exact_fp,
      |  list_aggregate(list_transform(
      |    CASE WHEN len(ws) >= 3
      |      THEN [array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws)-1)]
      |      ELSE [text] END,
      |    x -> md5(x)), 'min') AS shingle_fp
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003): hash every word-3-gram shingle, slide a window of
    * w=4 consecutive hashes, and keep the window minimum — rightmost
    * occurrence on ties, the paper's rule — then dedupe. Guarantees every
    * shared run of ≥ w+k-1 tokens between two documents contributes at
    * least one IDENTICAL fingerprint while storing only ~2/(w+1) of the
    * shingle hashes, which is why plagiarism/overlap indexes (MOSS) use it
    * instead of keeping all shingles: at 100 TB the fingerprint index is
    * a fixed fraction of [[docFingerprint]]'s full shingle set with the
    * same detection guarantee.
    *
    * The rightmost-min-on-tie rule rides inside ONE window pass via a
    * fixed-width sort key: `md5hex || %09d(999999999-pos)` — 32 hex chars
    * compare the hash, the zero-padded inverted-position suffix breaks
    * ties toward the LARGER position, and `min` over the lexicographic
    * key is therefore exactly the paper's selection. Both engines compare
    * equal-length ASCII strings, so the oracle is hash-exact. Shape: one
    * explode + one doc_id exchange for the sort-window + a distinct that
    * collapses map-side; windows are per-document, so partition width is
    * bounded by document length, never corpus size. */
  def docWinnowing(s: SparkSession, d: String): DataFrame =
    docWinnowingFrom(docs(s, d))

  def docWinnowingFrom(input: DataFrame): DataFrame = {
    val w = 4 // window size in shingles
    val sh = input
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), greatest(size(col("ws")) - 2, lit(1)).as("n_sh"),
        explode(expr("sequence(1, greatest(size(ws) - 2, 1))")).as("i"),
        col("ws"))
      .select(col("doc_id"), col("n_sh"), col("i"),
        concat(md5(expr("concat_ws(' ', slice(ws, i, 3))")),
          format_string("%09d", lit(999999999) - col("i"))).as("key"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    sh.withColumn("sel", min(col("key")).over(win))
      .where(col("i") <= greatest(col("n_sh") - (w - 1), lit(1)))
      .select(col("doc_id"),
        (lit(999999999) - substring(col("sel"), 33, 9).cast("int")).as("pos"),
        substring(col("sel"), 1, 32).as("fp"))
      .distinct()
  }

  /** The winnowing selection as an ORDER-free SQL body, shared by the
    * standalone query and the pair-detection twin (a parenthesized
    * subquery may carry its own WITH in DuckDB). */
  private val docWinnowingCoreSql: String =
    """WITH sh AS (
      |  SELECT doc_id, greatest(len(ws) - 2, 1) AS n_sh, i,
      |    concat(md5(array_to_string(ws[i:i+2], ' ')),
      |           printf('%09d', 999999999 - i)) AS key
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
      |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
      |              FROM documents))),
      |sel AS (
      |  SELECT doc_id, n_sh, i,
      |    min(key) OVER (PARTITION BY doc_id ORDER BY i
      |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |  FROM sh)
      |SELECT DISTINCT doc_id,
      |  999999999 - CAST(substr(sel, 33, 9) AS INT) AS pos,
      |  substr(sel, 1, 32) AS fp
      |FROM sel WHERE i <= greatest(n_sh - 3, 1)""".stripMargin

  val docWinnowingSql: String =
    docWinnowingCoreSql + "\nORDER BY doc_id, pos"

  /** Overlap detection OVER the winnowing index — what the index is FOR:
    * documents sharing ≥ 2 selected fingerprints are candidate
    * content-overlap (plagiarism/boilerplate) pairs, with the shared
    * count as evidence. Rare-fingerprint blocking bounds the join: a
    * fingerprint posting longer than 20 docs is corpus boilerplate with
    * O(df²) pair fan-out and no discriminative value, so it is dropped
    * BEFORE pairing (the cocitation out-degree-cap rule) — the self-join
    * fan-out is ≤ C(20,2) per fingerprint BY CONSTRUCTION. The posting
    * frame is built once and pinned on the fp key; both join sides read
    * the one exchange. 16-byte fingerprints cross the wire, never text. */
  def docWinnowingPairs(s: SparkSession, d: String,
                        maxDf: Int = 20): DataFrame =
    docWinnowingPairsFrom(docs(s, d), maxDf)

  def docWinnowingPairsFrom(input: DataFrame, maxDf: Int = 20): DataFrame = {
    val postings = docWinnowingFrom(input)
      .select(col("doc_id"), col("fp")).distinct()
      .repartition(col("fp"))
    val rare = postings.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf && col("df") >= 2)
    val keyed = postings.join(rare, Seq("fp"))
    val a = keyed.select(col("fp"), col("doc_id").as("doc_a"))
    val b = keyed.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp")).where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= 2)
  }

  val docWinnowingPairsSql: String =
    s"""WITH fps AS (
       |  SELECT DISTINCT doc_id, fp FROM (
       |${docWinnowingCoreSql.linesIterator.map("    " + _).mkString("\n")}
       |  )),
       |rare AS (
       |  SELECT fp, count(*) AS df FROM fps
       |  GROUP BY 1 HAVING count(*) <= 20 AND count(*) >= 2),
       |keyed AS (SELECT f.fp, f.doc_id FROM fps f JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       count(*) AS shared_fps
       |FROM keyed a JOIN keyed b
       |  ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Gopher-style repetition signals per document: the token fraction
    * covered by the most frequent word 2-gram and the duplicate-token
    * fraction (Rae et al. 2021 §A1.1 use character fractions of the top
    * n-grams and duplicate lines; token fractions are the same signal on
    * this corpus's single-line docs). Shape: explode bigrams → two grouped
    * aggregations, both collapsing map-side — the per-doc bigram histogram
    * never materializes wider than (doc, distinct-bigram) and the exchange
    * carries partial counts, so the operator is one explode + two shuffles
    * regardless of document length. A per-row HOF (count each distinct
    * bigram inside the array) would avoid the shuffles but is O(len²) per
    * document — wrong at 100 TB where single docs reach book length.
    * Ratios are integer products with one division + round(6), the
    * house oracle discipline. */
  def qualityRepetitionFrom(input: DataFrame): DataFrame = {
    val base = input
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val stats = base.select(col("doc_id"),
      size(col("ws")).cast("long").as("n_tokens"),
      size(array_distinct(col("ws"))).cast("long").as("n_distinct"))
    val top = base
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> concat_ws(' ', slice(ws, i, 2)))
          |  ELSE CAST(array() AS array<string>) END""".stripMargin)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("top_bigram_n"),
        count(lit(1)).as("n_distinct_bigrams"))
    stats.join(top, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("n_distinct_bigrams"), lit(0L)).as("n_distinct_bigrams"),
        round(coalesce(col("top_bigram_n"), lit(0L)) * 2 * lit(1.0)
          / col("n_tokens"), 6).as("rep2_frac"),
        round((col("n_tokens") - col("n_distinct")) * lit(1.0)
          / col("n_tokens"), 6).as("dup_word_frac"))
      .withColumn("is_clean",
        col("rep2_frac") <= 0.2 && col("dup_word_frac") <= 0.9)
  }

  def qualityRepetition(s: SparkSession, d: String): DataFrame =
    qualityRepetitionFrom(docs(s, d))

  val qualityRepetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |stats AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
      |                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct FROM t),
      |bg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
      |         THEN [array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]
      |         ELSE [] END) AS bg FROM t),
      |bc AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
      |top AS (SELECT doc_id, max(n) AS top_bigram_n,
      |               count(*) AS n_distinct_bigrams FROM bc GROUP BY 1)
      |SELECT s.doc_id, s.n_tokens,
      |  CAST(coalesce(top.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
      |  CAST(coalesce(top.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
      |  round(coalesce(top.top_bigram_n, 0) * 2 * 1.0 / s.n_tokens, 6) AS rep2_frac,
      |  round((s.n_tokens - s.n_distinct) * 1.0 / s.n_tokens, 6) AS dup_word_frac,
      |  (round(coalesce(top.top_bigram_n, 0) * 2 * 1.0 / s.n_tokens, 6) <= 0.2
      |   AND round((s.n_tokens - s.n_distinct) * 1.0 / s.n_tokens, 6) <= 0.9) AS is_clean
      |FROM stats s LEFT JOIN top USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** PII scrubbing patterns, applied in this order (emails first so the
    * IP/phone digit patterns never fire inside an address; IPs before
    * phones so a dotted quad is tagged <IP>, not eaten by the looser
    * phone pattern). Every pattern is RE2-safe (no backreferences, no
    * lookaround), so Java regex (Spark) and RE2 (DuckDB) match
    * identically. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>",
    """\+?\d[\d() -]{6,}\d""" -> "<PHONE>")

  /** PII redaction over any (doc_id, text) frame: sequential
    * regexp_replace per pattern with per-stage match counts (each count
    * runs on the PREVIOUS stage's output, so an address redacted as
    * <EMAIL> can't also count as a phone). Pure per-row projection — no
    * shuffle, trivially partition-parallel at any scale. Exposed
    * separately from the corpus query so the spec can feed real PII
    * sentences (this corpus is digit-free, so the oracled query verifies
    * the no-op path; TextAnalysisSpec pins the redaction behavior). */
  /** The staged redaction with every input column preserved — the
    * composable form ([[graft.operators.Pipeline.pipelineE2e]] chains it
    * ahead of dedup/quality/split without a join back for the columns it
    * dropped). Adds `t{1..n}` (progressively redacted text) and `n_{i}`
    * (stage match counts). */
  def piiRedactStaged(input: DataFrame): DataFrame =
    PiiPatterns.zipWithIndex.foldLeft(input.withColumn("t0", col("text"))) {
      case (df, ((pat, tag), i)) =>
        df.withColumn(s"n_${i}",
            size(regexp_extract_all(col(s"t$i"), lit(pat), lit(0))).cast("long"))
          .withColumn(s"t${i + 1}", regexp_replace(col(s"t$i"), pat, tag))
    }

  def piiRedactFrom(input: DataFrame): DataFrame =
    piiRedactStaged(input.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        col(s"t${PiiPatterns.size}").as("clean_text"),
        col("n_0").as("n_email"), col("n_1").as("n_ip"), col("n_2").as("n_phone"),
        (col("n_0") + col("n_1") + col("n_2")).as("n_pii"))

  def piiRedact(s: SparkSession, d: String): DataFrame =
    piiRedactFrom(docs(s, d))

  val piiRedactSql: String = {
    val Seq((email, eTag), (ip, ipTag), (phone, phTag)) = PiiPatterns
    s"""SELECT doc_id,
       |  regexp_replace(t2, '$phone', '$phTag', 'g') AS clean_text,
       |  n_email, n_ip,
       |  CAST(len(regexp_extract_all(t2, '$phone')) AS BIGINT) AS n_phone,
       |  n_email + n_ip
       |    + CAST(len(regexp_extract_all(t2, '$phone')) AS BIGINT) AS n_pii
       |FROM (
       |  SELECT doc_id, regexp_replace(t1, '$ip', '$ipTag', 'g') AS t2,
       |         n_email,
       |         CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ip
       |  FROM (
       |    SELECT doc_id, regexp_replace(text, '$email', '$eTag', 'g') AS t1,
       |           CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email
       |    FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF top-3 terms per document. Score = tf * N / df computed with
    * identical operation order on both engines (integer products, one
    * float division — no libm calls, so no cross-engine ULP risk). The
    * tf ⋈ df join runs on `token` with NO broadcast hint: both sides
    * shuffle on the same high-cardinality key, and at small scale AQE is
    * free to flip the df side to broadcast on its measured size — a
    * forced broadcast would be wrong at corpus scale, where the distinct
    * vocabulary (one row per token) is far beyond any broadcast limit.
    * The per-doc top-k runs as WindowGroupLimit. */
  def tfidfTopk(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tok.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs(s, d).agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round(col("tf") * col("n") * lit(1.0) / col("df"), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("score"))
  }

  val tfidfTopkSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, token, tf,
      |         round(tf * (SELECT count(*) FROM documents) * 1.0 / df, 6) AS score
      |  FROM tf JOIN dfreq USING (token))
      |SELECT doc_id, rank, token, tf, score FROM (
      |  SELECT doc_id, token, tf, score,
      |         CAST(row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY score DESC, token) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Per-document mean token log-probability under the corpus unigram LM
    * — the classic perplexity-proxy quality score (documents of rare /
    * gibberish tokens score far below fluent text; a pipeline thresholds
    * on it next to [[textQuality]]'s surface heuristics).
    *
    * Determinism discipline: the per-document score is a SUM of float
    * contributions, and a plain double sum is reduce-order-dependent —
    * nondeterministic across partitionings, let alone engines. So each
    * token's log-prob is rounded to 9 decimals ONCE (per distinct corpus
    * token) and fixed as DECIMAL(18,9); per-document accumulation then
    * runs in exact decimal arithmetic (associative, order-free), and
    * only the final per-token mean returns to double (round 6). DuckDB
    * reproduces every step — that makes a float-sum query hash-oracle-able.
    *
    * Scale shape: explode → (doc, tok) count with map-side combine →
    * vocabulary join (vocab ≪ occurrences) → per-doc decimal sum. The
    * corpus total is a 1-row broadcast; no corpus-sized frame ever
    * funnels to one partition. */
  def qualityUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan: the (doc, tok) occurrence counts are the common
    // subtree — the vocabulary re-aggregates from them (sum of k over
    // docs ≡ occurrence count), so ReuseExchange feeds both the logp
    // branch and the join side from the same shuffle files, and the
    // vocab aggregate reads distinct (doc, tok) pairs, not occurrences
    val dk = Tables.load(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("k"))
    val vocab = dk.groupBy(col("tok")).agg(sum(col("k")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_total"))
    val logp = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        round(log(col("cnt").cast("double") / col("n_total").cast("double")), 9)
          .cast("decimal(18,9)").as("logp"))
    dk.join(logp, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k").cast("decimal(18,0)") * col("logp")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("s").cast("double") / col("n_tokens").cast("double"), 6)
          .as("lp_per_tok"))
  }

  /** `quality_bigram_logprob` (oracled): per-doc mean log-probability
    * under a Laplace-smoothed CONDITIONAL bigram LM fit on the corpus
    * itself — P(w|v) = (c(v,w) + 1) / (c(v·) + V), the one-step-up
    * perplexity-style quality filter next to [[qualityUnigramLogprob]]
    * (a doc of common words in UNCOMMON order scores well there but
    * poorly here — word-salad detection, the Gopher/C4-family signal).
    * c(v·) is the bigram-prefix total (Σ_w c(v,w)), so P(·|v) sums to
    * (c(v·) + observed types)/(c(v·) + V) ≤ 1 — a proper smoothed model.
    *
    * Float discipline: per-bigram logp rounds to 9 dp and is summed per
    * doc in DECIMAL(18,9) — EXACT arithmetic, so the per-doc sum has no
    * summation-order exposure at all (the unigram's house trick); the
    * only float ops are the ln of exact-integer ratios (identical
    * operation order both engines) and the final /n + round(6).
    *
    * Scale shape: ONE corpus scan feeds the (doc, bigram) counts; the
    * corpus bigram table re-aggregates from those rows (ReuseExchange),
    * the prefix totals re-aggregate from the bigram table, and V is a
    * 1-row broadcast. Everything joins hash-partitioned on the bigram /
    * prefix keys; nothing corpus-sized funnels to one partition. */
  def qualityBigramLogprob(s: SparkSession, d: String): DataFrame = {
    val db = Tables.load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> concat_ws(' ', slice(ws, i, 2)))
          |  ELSE CAST(array() AS array<string>) END""".stripMargin)).as("bg"))
    // the quality_kneser_ney scan-dedup pin (see there): the HOF lambda
    // defeats canonicalization, so dbk/big re-derive per consumer without
    // the checkpoints (4 corpus scans measured → 2: dbk + the vocab scan)
    val dbk = db.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val big = dbk.groupBy(col("bg")).agg(sum(col("k")).as("cvw"))
      .localCheckpoint()
    val pre = big
      .groupBy(expr("split(bg, ' ')[0]").as("v")).agg(sum(col("cvw")).as("cv"))
    val vocab = Tables.load(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(count_distinct(col("tok")).as("vsz"))
    val logp = big.withColumn("v", expr("split(bg, ' ')[0]"))
      .join(pre, Seq("v"))
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        round(log((col("cvw") + lit(1)).cast("double")
          / (col("cv") + col("vsz")).cast("double")), 9)
          .cast("decimal(18,9)").as("logp"))
    dbk.join(logp, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k").cast("decimal(18,0)") * col("logp")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("lp2_per_bigram"))
  }

  val qualityBigramLogprobSql: String =
    """WITH db AS (
      |  SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(ws) - 1),
      |                i -> ws[i] || ' ' || ws[i + 1])) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |dbk AS (SELECT doc_id, bg, count(*) AS k FROM db GROUP BY 1, 2),
      |big AS (SELECT bg, CAST(sum(k) AS BIGINT) AS cvw FROM dbk GROUP BY 1),
      |pre AS (SELECT string_split(bg, ' ')[1] AS v, CAST(sum(cvw) AS BIGINT) AS cv
      |        FROM big GROUP BY 1),
      |vocab AS (
      |  SELECT count(DISTINCT tok) AS vsz
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
      |logp AS (
      |  SELECT bg,
      |    CAST(round(ln(CAST(cvw + 1 AS DOUBLE) / CAST(cv + vsz AS DOUBLE)), 9)
      |         AS DECIMAL(18,9)) AS logp
      |  FROM big JOIN pre ON string_split(big.bg, ' ')[1] = pre.v, vocab)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |       round(CAST(sum(CAST(k AS DECIMAL(18,0)) * logp) AS DOUBLE)
      |             / CAST(sum(k) AS DOUBLE), 6) AS lp2_per_bigram
      |FROM dbk JOIN logp USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `quality_kneser_ney` (oracled): per-doc mean log-probability under
    * an interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; Chen &
    * Goodman 1998's interpolated form) fit on the corpus itself — the
    * production-grade upgrade of [[qualityBigramLogprob]]'s Laplace
    * smoothing. With absolute discount D = 0.75:
    *
    *   P_KN(w|v) = (max(c(v,w) − D, 0) + D·N1+(v·)·P_cont(w)) / c(v·)
    *   P_cont(w) = N1+(·w) / N1+(··)
    *
    * where N1+(v·) = distinct continuations of v, N1+(·w) = distinct
    * predecessors of w (the "how many contexts has w completed" novelty
    * count that makes KN famous — "san francisco" inflates c(francisco)
    * but not N1+(·francisco)), N1+(··) = distinct bigram types. Every
    * bigram scored is observed in the fit corpus, so c(v·) > 0 and
    * P_KN > 0 — no OOV branch, same as the Laplace twin.
    *
    * Float discipline ([[qualityBigramLogprob]]'s exactly): all counts
    * are exact integers; P_KN composes them through ONE shared
    * parenthesization — (greatest(c−D, 0) + (D·n1f)·(n1b/n1t)) / cv —
    * written identically in both engines (IEEE ops are deterministic
    * given identical operation order), then ln + round(9) → the per-doc
    * sum runs in DECIMAL(18,9) (exact, order-free), one /n + round(6)
    * at the end.
    *
    * Scale shape: ONE corpus scan feeds (doc, bigram) counts; the bigram
    * table, prefix totals/fan-outs (v), and continuation fan-ins (w) all
    * re-aggregate from it hash-partitioned on their keys; N1+(··) is a
    * 1-row broadcast. Identical exchange graph to the Laplace twin plus
    * one more keyed join — nothing corpus-sized funnels anywhere. */
  def qualityKneserNey(s: SparkSession, d: String): DataFrame = {
    val db = Tables.load(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |  THEN transform(sequence(1, size(ws) - 1),
          |                 i -> concat_ws(' ', slice(ws, i, 2)))
          |  ELSE CAST(array() AS array<string>) END""".stripMargin)).as("bg"))
    // PIN the two shared aggregates: the HOF lambda in the bigram explode
    // defeats plan canonicalization, so without the checkpoints Catalyst
    // re-derives dbk/big for every consumer — FIVE corpus scans and three
    // identical (doc_id, bg) aggregations (measured from the plan text,
    // PLANS.md "quality_kneser_ney scan dedup"). One
    // materialization each replaces them: dbk feeds big + the final join,
    // big feeds pre/cont/types/logp. At 100 TB the dbk blocks are
    // corpus-scale — the same cost class as the groupBy shuffle they
    // already pay, vs four extra corpus scans without the pin.
    val dbk = db.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k"))
      .localCheckpoint()
    val big = dbk.groupBy(col("bg")).agg(sum(col("k")).as("cvw"))
      .localCheckpoint()
    val pre = big
      .groupBy(expr("split(bg, ' ')[0]").as("v"))
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1f"))
    val cont = big
      .groupBy(expr("split(bg, ' ')[1]").as("w"))
      .agg(count(lit(1)).as("n1b"))
    val types = big.agg(count(lit(1)).as("n1t"))
    val logp = big
      .withColumn("v", expr("split(bg, ' ')[0]"))
      .withColumn("w", expr("split(bg, ' ')[1]"))
      .join(pre, Seq("v")).join(cont, Seq("w"))
      .crossJoin(broadcast(types))
      .select(col("bg"),
        round(log(
          (greatest(col("cvw").cast("double") - lit(0.75), lit(0.0))
            + (lit(0.75) * col("n1f").cast("double"))
              * (col("n1b").cast("double") / col("n1t").cast("double")))
            / col("cv").cast("double")), 9)
          .cast("decimal(18,9)").as("logp"))
    dbk.join(logp, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k").cast("decimal(18,0)") * col("logp")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("kn_per_bigram"))
  }

  val qualityKneserNeySql: String =
    """WITH db AS (
      |  SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(ws) - 1),
      |                i -> ws[i] || ' ' || ws[i + 1])) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |dbk AS (SELECT doc_id, bg, count(*) AS k FROM db GROUP BY 1, 2),
      |big AS (SELECT bg, CAST(sum(k) AS BIGINT) AS cvw FROM dbk GROUP BY 1),
      |pre AS (SELECT string_split(bg, ' ')[1] AS v,
      |               CAST(sum(cvw) AS BIGINT) AS cv, count(*) AS n1f
      |        FROM big GROUP BY 1),
      |cont AS (SELECT string_split(bg, ' ')[2] AS w, count(*) AS n1b
      |         FROM big GROUP BY 1),
      |types AS (SELECT count(*) AS n1t FROM big),
      |logp AS (
      |  SELECT bg,
      |    CAST(round(ln(
      |      (greatest(CAST(cvw AS DOUBLE) - 0.75, 0.0)
      |        + (0.75 * CAST(n1f AS DOUBLE))
      |          * (CAST(n1b AS DOUBLE) / CAST(n1t AS DOUBLE)))
      |        / CAST(cv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS logp
      |  FROM big
      |  JOIN pre ON string_split(big.bg, ' ')[1] = pre.v
      |  JOIN cont ON string_split(big.bg, ' ')[2] = cont.w, types)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |       round(CAST(sum(CAST(k AS DECIMAL(18,0)) * logp) AS DOUBLE)
      |             / CAST(sum(k) AS DOUBLE), 6) AS kn_per_bigram
      |FROM dbk JOIN logp USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val qualityUnigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
      |total AS (SELECT sum(cnt) AS n_total FROM vocab),
      |logp AS (
      |  SELECT tok,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)), 9)
      |         AS DECIMAL(18,9)) AS logp
      |  FROM vocab, total),
      |dk AS (SELECT doc_id, tok, count(*) AS k FROM toks GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
      |       round(CAST(sum(CAST(k AS DECIMAL(18,0)) * logp) AS DOUBLE)
      |             / CAST(sum(k) AS DOUBLE), 6) AS lp_per_tok
      |FROM dk JOIN logp USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Document-length distribution on a log2 grid — the diagnostic a
    * packing/truncation recipe reads before choosing a sequence budget
    * (what share of documents, and of total character mass, falls in each
    * power-of-two length band). Bucket = floor(log2(n_chars)) + 1,
    * computed as length(bin(n_chars)) — pure INTEGER bit-length, so
    * exact-power-of-two boundary values can never flip buckets the way a
    * float log2 epsilon would, and DuckDB's bin() agrees digit-for-digit.
    * Scale shape: one partial-aggregated exchange whose key domain is
    * ≤64 BY CONSTRUCTION (bit lengths of a long); the share window runs
    * over that ≤64-row aggregate, not the corpus. */
  def docLengthHistogram(s: SparkSession, d: String): DataFrame = {
    val g = Tables.load(s, d, "documents")
      .select(length(bin(col("n_chars"))).cast("int").as("bucket"),
        col("n_chars"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    g.withColumn("share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy()), 6))
      .select(col("bucket"), col("n_docs"), col("sum_chars"), col("share"))
  }

  val docLengthHistogramSql: String =
    """WITH b AS (
      |  SELECT CAST(length(bin(n_chars)) AS INT) AS bucket, n_chars
      |  FROM documents),
      |g AS (
      |  SELECT bucket, count(*) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM b GROUP BY 1)
      |SELECT bucket, n_docs, sum_chars,
      |       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS share
      |FROM g ORDER BY bucket""".stripMargin

  /** Inverted index (token → document-frequency + bounded posting list)
    * — the retrieval-side artifact a corpus pipeline materializes next to
    * the corpus itself. df is EXACT over all documents; the posting list
    * is capped at `cap` lowest doc_ids, which is what bounds the
    * operator at scale: a stopword appearing in every one of 10^9
    * documents still emits a ≤`cap`-element list, because the
    * `collect_list` only ever sees rows the row_number window already
    * ranked ≤ cap (nulls are skipped by collect_list, so the aggregation
    * buffer holds at most `cap` entries BY CONSTRUCTION — this is the
    * bounded twin of the group-to-list scale bomb SURVEY.md O15 keeps out
    * of production). One shuffle total: the window hash-partitions by
    * token, and the follow-on groupBy(token) reuses that partitioning
    * (no second exchange — asserted in PLANS.md). */
  def invertedIndex(s: SparkSession, d: String, cap: Int = 20): DataFrame = {
    val pairs = Tables.load(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .distinct()
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    pairs.withColumn("rn", row_number().over(w))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        expr(s"concat_ws(',', transform(array_sort(" +
          s"collect_list(CASE WHEN rn <= $cap THEN doc_id END)), " +
          "x -> CAST(x AS STRING)))").as("postings"))
  }

  val invertedIndexSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT doc_id, token FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  WHERE token <> ''),
      |w AS (
      |  SELECT token, doc_id,
      |         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      |  FROM pairs)
      |SELECT token, count(*) AS df,
      |       string_agg(CASE WHEN rn <= 20 THEN CAST(doc_id AS VARCHAR) END,
      |                  ',' ORDER BY doc_id) AS postings
      |FROM w GROUP BY token ORDER BY token""".stripMargin

  /** Okapi BM25 top-20 for a fixed conjunctive-ish query (k1=1.2,
    * b=0.75, the robust idf ln((N-df+0.5)/(df+0.5)+1) that never goes
    * negative) — lexical retrieval over the corpus, the complement of the
    * embedding-space ANN family in `Similarity`. Shape at 100 TB: ONE
    * corpus scan feeds both the per-(doc, term) counts (filtered to the
    * query's terms BEFORE the aggregation, so the shuffle carries only
    * matching occurrences) and the per-doc length rides the same rows as
    * a constant-per-group max; df/N/avgdl are 1-row or |query|-row
    * broadcast frames. Scoring is a per-row expression; top-20 plans as
    * TakeOrderedAndProject. Scores round to 6 dp before the final order
    * (the q1 float convention — ln/× ulp divergence sits ~8 orders below
    * the grid). */
  def searchBm25(s: SparkSession, d: String,
                 terms: Seq[String] = Seq("vector", "stream", "filter"),
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"),
        explode(split(col("text"), " ")).as("token"))
    // Pin the per-(doc, term) aggregate once: both the scoring pipeline
    // and the df branch read it, and Catalyst can't ReuseExchange the two
    // (the df copy prunes k/dl away, changing the subtree — and count(k)
    // doesn't survive as a pruning blocker because k is provably
    // non-null, so the optimizer rewrites it back to a distinct). The
    // frame is ≤ matching-docs × |terms| rows of fixed-width longs; the
    // harness sweeps the block between queries.
    val tf = docs.where(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("k"), max(col("dl")).as("dl"))
      .localCheckpoint()
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = Tables.load(s, d, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)) *
          (col("k") * lit(k1 + 1.0)) /
          (col("k") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("dl") * col("n_docs") / col("sum_dl")))).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  val searchBm25Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |         unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS k, max(dl) AS dl
      |  FROM toks WHERE token IN ('vector', 'stream', 'filter')
      |  GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
      |           AS sum_dl
      |  FROM documents)
      |SELECT doc_id,
      |       round(sum(
      |         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |         * (k * 2.2) / (k + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl))
      |       ), 6) AS score
      |FROM tf JOIN df USING (token), stats
      |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** `search_hybrid_rrf` (oracled): hybrid retrieval — reciprocal-rank
    * fusion (Cormack et al.'s RRF, the standard production fusion rule) of
    * the BM25 sparse ranking and a dense cosine ranking for one query
    * (terms "vector stream filter"; dense query = vec 0's embedding, the
    * ann-probe convention). RRF(d) = Σ_lists 1/(60 + rank_d), summed over
    * the lists that retrieved d — rank-based, so the two lists'
    * incomparable score scales never need calibration.
    *
    * Scale shape: each leg is its own already-scale-shaped operator
    * ([[searchBm25]]: filtered-before-aggregate scan + broadcast stats;
    * dense: broadcast 1-probe scan through the fused kernel with top-20 as
    * TakeOrderedAndProject — never a corpus-wide window). The fusion then
    * touches two ≤20-row frames: ranks assigned post-limit (the
    * citation_top30 row_number-after-TakeOrdered shape), a full-outer join
    * of 20×20 ids, one final top-10. Cross-engine: ranks are integers on
    * rounded scores with id tie-breaks; 1/(60+rank) terms are added in
    * written order on both engines; the fused score rounds to the grid. */
  def searchHybridRrf(s: SparkSession, d: String): DataFrame = {
    val wS = Window.orderBy(col("score").desc, col("doc_id").asc)
    val sparse = searchBm25(s, d) // top-20 (doc_id, score), ordered
      .withColumn("rank_sparse", row_number().over(wS).cast("int"))
      .select(col("doc_id"), col("rank_sparse"))
    val e = Tables.load(s, d, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    val wD = Window.orderBy(col("cos").desc, col("doc_id").asc)
    val dense = e.crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        expr("round(cosine_sim(pe, embedding), 6)").as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
      .withColumn("rank_dense", row_number().over(wD).cast("int"))
      .select(col("doc_id"), col("rank_dense"))
    val wR = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_sparse"), lit(0)).as("rs"),
        coalesce(col("rank_dense"), lit(0)).as("rd"),
        round(
          when(col("rank_sparse").isNotNull,
            lit(1.0) / (lit(60) + col("rank_sparse"))).otherwise(lit(0.0)) +
          when(col("rank_dense").isNotNull,
            lit(1.0) / (lit(60) + col("rank_dense"))).otherwise(lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
      .withColumn("rank", row_number().over(wR).cast("int"))
      .select(col("rank"), col("doc_id"),
        col("rs").as("rank_sparse"), col("rd").as("rank_dense"), col("rrf"))
  }

  /** MMR-diversified retrieval (Carbonell & Goldstein 1998): greedy
    * re-ranking of the dense top-20 so the emitted 5 are relevant AND
    * mutually dissimilar — the step a RAG pipeline runs so its context
    * window isn't five near-copies of one passage. Round k picks
    * argmax λ·rel(c) − (1−λ)·max_{s∈S} cos(c, s), ties to the smaller
    * id; λ = 0.7 and the penalty weight is the LITERAL 0.3 on both
    * engines (1.0−0.7 is 0.30000000000000004 in IEEE — computing it
    * would still match, but the literal removes the trap).
    *
    * Shape: candidate scoring and the 20×20 pair matrix are distributed
    * (broadcast probe scan → TakeOrdered 20, then a 20-row broadcast
    * self-product through the fused cosine kernel — both frames bounded
    * BY the candidate cap, the ann_topk whitelist shape); the greedy
    * 5-round argmax runs on the driver over that collected 400-entry
    * matrix (the kmeansFit bounded-model convention — the loop touches
    * ≤ 20 scores per round, and its decisions must fold back as rows).
    * ORACLE: the DuckDB twin unrolls the same 5 rounds as correlated-
    * subquery CTEs over the same round-6 grid — relevance, pair cosines,
    * and every λ-chain op are operation-identical, so the greedy
    * DECISIONS (not just scores) must agree for the hash to pass. */
  def searchMmr(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val e = Tables.load(s, d, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    val cands = e.crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        expr("round(cosine_sim(pe, embedding), 6)").as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("doc_id").asc).limit(20)
      .localCheckpoint() // score once; both pair-matrix sides read the cut
    val a = cands.select(col("doc_id").as("da"), col("embedding").as("ea"))
    val b = cands.select(col("doc_id").as("db"), col("embedding").as("eb"))
    val cos = a.crossJoin(broadcast(b))
      .selectExpr("da", "db", "round(cosine_sim(ea, eb), 6) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rel = cands.select(col("doc_id"), col("rel"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var selected = Vector.empty[(Long, Double, Double)] // (id, rel, mmr)
    var remaining = rel.keySet
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.toSeq.map { c =>
        val score =
          if (selected.isEmpty) rel(c)
          else 0.7 * rel(c) - 0.3 * selected.map(s => cos((c, s._1))).max
        (c, score)
      }
      val (pick, score) = scored.reduce { (x, y) =>
        if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
      }
      selected :+= ((pick, rel(pick), score))
      remaining -= pick
    }
    val sp = s
    import sp.implicits._
    selected.zipWithIndex
      .map { case ((id, r, m), i) => (i + 1, id, r, m) }
      .toDF("rank", "doc_id", "rel", "mmr")
  }

  val searchMmrSql: String = {
    val cosSql = (x: String, y: String) =>
      s"""round(
         |  list_reduce(list_transform(range(1, len($x) + 1),
         |              i -> $x[i]::DOUBLE * $y[i]::DOUBLE), (p, q) -> p + q)
         |  / (sqrt(list_reduce(list_transform(range(1, len($x) + 1),
         |              i -> $x[i]::DOUBLE * $x[i]::DOUBLE), (p, q) -> p + q))
         |   * sqrt(list_reduce(list_transform(range(1, len($y) + 1),
         |              i -> $y[i]::DOUBLE * $y[i]::DOUBLE), (p, q) -> p + q))),
         |  6)""".stripMargin
    val rounds = (2 to 5).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT doc_id, rel,
         |    0.7 * rel - 0.3 * (SELECT max(p.c) FROM pair p
         |                       WHERE p.da = c.doc_id
         |                         AND p.db IN (SELECT doc_id FROM s${i - 1}))
         |      AS mmr, $i AS rank
         |  FROM candv c WHERE doc_id NOT IN (SELECT doc_id FROM s${i - 1})
         |  ORDER BY mmr DESC, doc_id ASC LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT doc_id FROM s${i - 1} UNION ALL SELECT doc_id FROM r$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH probe AS (
       |  SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
       |candv AS MATERIALIZED (
       |  SELECT vec_id AS doc_id,
       |    ${cosSql("pe", "embedding").linesIterator.mkString("\n    ")} AS rel,
       |    embedding
       |  FROM embeddings, probe
       |  ORDER BY rel DESC, doc_id ASC LIMIT 20),
       |pair AS MATERIALIZED (
       |  SELECT a.doc_id AS da, b.doc_id AS db,
       |    ${cosSql("a.embedding", "b.embedding").linesIterator.mkString("\n    ")} AS c
       |  FROM candv a, candv b),
       |r1 AS MATERIALIZED (
       |  SELECT doc_id, rel, rel AS mmr, 1 AS rank FROM candv
       |  ORDER BY rel DESC, doc_id ASC LIMIT 1),
       |s1 AS MATERIALIZED (SELECT doc_id FROM r1),
       |$rounds
       |SELECT rank, doc_id, rel, mmr FROM (
       |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
       |  UNION ALL SELECT * FROM r5)
       |ORDER BY rank""".stripMargin
  }

  val searchHybridRrfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |         unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS k, max(dl) AS dl
      |  FROM toks WHERE token IN ('vector', 'stream', 'filter')
      |  GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
      |           AS sum_dl
      |  FROM documents),
      |bm25 AS (
      |  SELECT doc_id,
      |         round(sum(
      |           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |           * (k * 2.2) / (k + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl))
      |         ), 6) AS score
      |  FROM tf JOIN df USING (token), stats
      |  GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT 20),
      |sparse AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
      |           AS rank_sparse
      |  FROM bm25),
      |probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
      |densetop AS (
      |  SELECT vec_id AS doc_id,
      |    round(
      |      list_reduce(list_transform(range(1, len(embedding) + 1),
      |                  i -> pe[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y)
      |      / (sqrt(list_reduce(list_transform(range(1, len(pe) + 1),
      |                  i -> pe[i]::DOUBLE * pe[i]::DOUBLE), (x, y) -> x + y))
      |       * sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      |                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y))),
      |      6) AS cos
      |  FROM embeddings, probe
      |  ORDER BY cos DESC, doc_id ASC LIMIT 20),
      |dense AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
      |           AS rank_dense
      |  FROM densetop),
      |fused AS (
      |  SELECT doc_id,
      |         COALESCE(rank_sparse, 0) AS rank_sparse,
      |         COALESCE(rank_dense, 0) AS rank_dense,
      |         round(
      |           CASE WHEN rank_sparse IS NOT NULL
      |                THEN CAST(1.0 AS DOUBLE) / (60 + rank_sparse)
      |                ELSE CAST(0.0 AS DOUBLE) END +
      |           CASE WHEN rank_dense IS NOT NULL
      |                THEN CAST(1.0 AS DOUBLE) / (60 + rank_dense)
      |                ELSE CAST(0.0 AS DOUBLE) END, 6) AS rrf
      |  FROM sparse FULL OUTER JOIN dense USING (doc_id)
      |  ORDER BY rrf DESC, doc_id ASC LIMIT 10)
      |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank,
      |       doc_id, rank_sparse, rank_dense, rrf
      |FROM fused ORDER BY rank""".stripMargin

  /** Per-document novelty: the fraction of a doc's DISTINCT word-3-gram
    * shingles that appear in no other document (corpus df = 1) — high
    * novelty marks original text, low novelty marks boilerplate or
    * near-copies; the standard cheap memorization-risk signal next to
    * [[Dedup]]'s pairwise machinery, but linear, not pairwise: nothing
    * here ever compares two documents.
    *
    * Scale shape: the shingle explosion collapses per partition
    * (distinct doc×shingle), then 8-byte xxhash64 fingerprints flow
    * through the two aggregation exchanges — shingle STRINGS never
    * shuffle (the dedup_near discipline; the DuckDB twin keeps strings,
    * the ~1e-12 collision odds are the family's documented accepted
    * risk). df is corpus-wide; the join back to per-doc rows is
    * hash-partitioned on the fingerprint, and the final per-doc
    * aggregate is map-side combined. Exact integers + one
    * integer-ratio round(6) — hash-oracles. */
  def docNovelty(s: SparkSession, d: String): DataFrame =
    docNoveltyFrom(Tables.load(s, d, "documents"))

  def docNoveltyFrom(docs: DataFrame): DataFrame = {
    val sh = Dedup.wordShingleRowsFrom(docs, 3)
      .select(col("doc_id"), xxhash64(col("sh")).as("h")).distinct()
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Cross-language corpus overlap: Jaccard similarity between the
    * per-language word-trigram SETS — the corpus-level leakage/dedup
    * diagnostic (how much shared boilerplate two slices carry) next to
    * [[docNovelty]]'s per-doc view. One row per unordered language pair
    * with the exact set sizes, intersection, and Jaccard.
    *
    * Scale shape: the shingle explosion collapses to distinct
    * (lang, fingerprint) in the first aggregate — 8-byte xxhash64 longs
    * shuffle, shingle strings never do (the dedup_near discipline; same
    * documented ~1e-12 collision risk) — then ONE pinned repartition on
    * the fingerprint feeds all three consumers (both self-join sides and
    * the per-lang size aggregate) via ReusedExchange: the corpus is
    * scanned ONCE (the doc_winnowing_pairs discipline; un-pinned this
    * plans as four scans). The self-equi-join is co-partitioned with
    * per-key fan-out bounded by #langs (a small constant), then a
    * partial-aggregable count to ≤ langs² rows; the ≤ langs-row size
    * frame is broadcast into the final join. Exact integers + one
    * integer-ratio round(6) — hash-oracles. */
  def corpusLangOverlap(s: SparkSession, d: String): DataFrame = {
    val ls = Tables.load(s, d, "documents")
      .select(col("lang"), split(col("text"), " ").as("ws"))
      .select(col("lang"), col("ws"),
        explode(expr("sequence(1, greatest(size(ws) - 2, 1))")).as("i"))
      .select(col("lang"), expr("concat_ws(' ', slice(ws, i, 3))").as("sh"))
      .select(col("lang"), xxhash64(col("sh")).as("h")).distinct()
      .repartition(col("h"))
    val n = ls.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val inter = ls.select(col("lang").as("lang_a"), col("h"))
      .join(ls.select(col("lang").as("lang_b"), col("h")), Seq("h"))
      .where(col("lang_a") < col("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(n.select(col("lang").as("lang_a"), col("n").as("n_a"))),
        Seq("lang_a"))
      .join(broadcast(n.select(col("lang").as("lang_b"), col("n").as("n_b"))),
        Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("inter"),
        col("n_a"), col("n_b"),
        round(col("inter").cast("double")
          / (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
  }

  val corpusLangOverlapSql: String =
    """WITH t AS (SELECT lang, string_split(text, ' ') AS ws
      |           FROM documents),
      |sh AS (
      |  SELECT DISTINCT lang, array_to_string(ws[i:i+2], ' ') AS sh
      |  FROM (SELECT lang, ws,
      |          unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
      |        FROM t)),
      |n AS (SELECT lang, count(*) AS n FROM sh GROUP BY 1),
      |i AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
      |             count(*)::BIGINT AS inter
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang < b.lang
      |      GROUP BY 1, 2)
      |SELECT lang_a, lang_b, inter,
      |       na.n::BIGINT AS n_a, nb.n::BIGINT AS n_b,
      |       round(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
      |FROM i JOIN n na ON na.lang = i.lang_a
      |       JOIN n nb ON nb.lang = i.lang_b
      |ORDER BY lang_a, lang_b""".stripMargin

  val docNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS sh
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
      |        FROM t)),
      |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
      |SELECT doc_id, count(*)::BIGINT AS n_shingles,
      |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_unique,
      |       round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS novelty
      |FROM sh JOIN df USING (sh)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** `doc_keyphrases` (oracled): corpus-level RAKE keyphrase extraction
    * (Rose et al. 2010) — candidate phrases are the maximal stopword-free
    * word runs (delimiters: the fixed 10-word [[gopherStops]] list, the
    * only punctuation-free delimiter this corpus has), capped at 4 words;
    * each word occurrence accumulates freq += 1 and deg += phrase length,
    * word score = ⌊10⁶·deg/freq⌋ (degree-over-frequency favors words
    * that live inside longer collocations), phrase score = Σ word scores.
    * Top-100 by (score, n_occ, phrase) — a fully deterministic total
    * order, so the limit is oracle-stable. Integer microunits throughout:
    * the one division floors on both engines (positive operands, so
    * DuckDB's truncating `//` IS floor here), products ride
    * DECIMAL(38,0)/HUGEINT past any 64-bit corpus.
    *
    * Scale shape: one corpus shuffle for the per-doc position window
    * (the winnowing partitioning), then two vocabulary-bounded
    * aggregates and a phrase⋈word-score join keyed on the word — the
    * token_pmi class. No driver loops, no cartesians; the top-100 plans
    * as TakeOrderedAndProject. */
  def docKeyphrases(s: SparkSession, d: String, k: Int = 100,
                    maxLen: Int = 4): DataFrame = {
    val stops = gopherStops
    val toks = docs(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr("sequence(1, size(ws))")).as("i"),
        col("ws"))
      .select(col("doc_id"), col("i"), expr("element_at(ws, i)").as("w"))
    val wdoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val seg = toks
      .withColumn("grp",
        sum(col("w").isInCollection(stops).cast("long")).over(wdoc))
      .where(!col("w").isInCollection(stops))
    val phr = seg.groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("plen"),
        array_join(expr("transform(sort_array(collect_list(struct(i, w)))," +
          " x -> x.w)"), " ").as("phrase"))
      .where(col("plen") <= maxLen)
    val wordScore = phr
      .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"),
        expr("(CAST(deg AS DECIMAL(38,0)) * 1000000) div freq").as("wscore"))
    phr.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, Seq("w"))
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(col("wscore")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("n_occ").desc, col("phrase"))
      .limit(k)
      .select(col("phrase"), col("n_occ"), col("score_micro"))
  }

  /** DuckDB twin of [[docKeyphrases]] — same segmentation via the
    * running stopword count, same floored microunit scores. */
  def docKeyphrasesSql(k: Int = 100, maxLen: Int = 4): String = {
    val stops = gopherStops.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, i, ws[i] AS w
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws))) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws
       |              FROM documents))),
       |seg AS MATERIALIZED (
       |  SELECT doc_id, i, w, grp FROM (
       |    SELECT doc_id, i, w,
       |           sum(CASE WHEN w IN ($stops) THEN 1 ELSE 0 END)
       |             OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |    FROM toks)
       |  WHERE w NOT IN ($stops)),
       |phr AS MATERIALIZED (
       |  SELECT doc_id, grp, count(*) AS plen,
       |         string_agg(w, ' ' ORDER BY i) AS phrase
       |  FROM seg GROUP BY 1, 2
       |  HAVING count(*) <= $maxLen),
       |wsx AS MATERIALIZED (
       |  SELECT w, CAST((CAST(sum(plen) AS HUGEINT) * 1000000) // count(*)
       |              AS BIGINT) AS wscore
       |  FROM (SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM phr)
       |  GROUP BY 1),
       |dp AS MATERIALIZED (
       |  SELECT phrase, count(*) AS n_occ FROM phr GROUP BY 1)
       |SELECT d.phrase, CAST(d.n_occ AS BIGINT) AS n_occ,
       |       CAST(sum(x.wscore) AS BIGINT) AS score_micro
       |FROM (SELECT phrase, n_occ,
       |             unnest(string_split(phrase, ' ')) AS w FROM dp) d
       |JOIN wsx x ON x.w = d.w
       |GROUP BY 1, 2
       |ORDER BY score_micro DESC, n_occ DESC, phrase
       |LIMIT $k""".stripMargin
  }

  /** `token_skipgram_pairs` (oracled): the word2vec training-pair
    * sufficient statistics — for every position i and offset d ∈ [1,
    * window], one (center = wᵢ, context = wᵢ₊d, d) observation, counted
    * over the corpus with a min-count floor. This is what a skip-gram
    * embedding trains on (Mikolov et al. 2013 — there with dynamic
    * window subsampling; the exact counts here are the statistics that
    * sampling estimates, and the [[graft.operators.Citations.randomWalks]]
    * paths feed the same consumer for graphs). Forward pairs only
    * (center precedes context); the symmetric table is a rename away.
    *
    * Scale shape: ZERO joins — one explode over positions, a per-row
    * transform/filter for the ≤window offsets, then ONE partial-
    * aggregable count keyed on (w, c, d). Pure codegen until the single
    * exchange; output is vocabulary²-bounded with the floor trimming
    * the hapax tail. */
  def tokenSkipgramPairs(s: SparkSession, d: String, window: Int = 2,
                         minCount: Int = 2): DataFrame =
    docs(s, d)
      .select(split(col("text"), " ").as("ws"))
      .select(col("ws"), explode(expr("sequence(1, size(ws))")).as("i"))
      .select(explode(expr(
        s"""filter(transform(sequence(1, $window),
           |  d -> IF(i + d <= size(ws),
           |          struct(element_at(ws, i) AS w,
           |                 element_at(ws, i + d) AS c, d AS dist),
           |          NULL)),
           |  x -> x IS NOT NULL)""".stripMargin)).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"), col("p.dist").as("dist"))
      .groupBy(col("w"), col("c"), col("dist"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)

  /** DuckDB twin of [[tokenSkipgramPairs]]. */
  def tokenSkipgramPairsSql(window: Int = 2, minCount: Int = 2): String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
       |x AS (SELECT ws, unnest(generate_series(1, len(ws))) AS i FROM t),
       |p AS (
       |  SELECT ws[i] AS w, ws[i + dd.d] AS c, dd.d AS dist
       |  FROM x CROSS JOIN
       |    (SELECT unnest(generate_series(1, $window)) AS d) dd
       |  WHERE i + dd.d <= len(ws))
       |SELECT w, c, CAST(dist AS INT) AS dist, count(*) AS n
       |FROM p GROUP BY 1, 2, 3 HAVING count(*) >= $minCount
       |ORDER BY w, c, dist""".stripMargin

  /** `token_glove_cooc` (oracled): the GloVe co-occurrence statistics
    * (Pennington et al. 2014) — for every ordered pair within a
    * `window`-word forward span, weight 1/d by offset distance and sum
    * per (center, context). This is THE input matrix GloVe factorizes;
    * where [[tokenSkipgramPairs]] keeps the per-offset counts word2vec
    * samples from, this collapses them through the harmonic distance
    * kernel. Exact integers end-to-end: the weight is ⌊10⁶/d⌋ microunits
    * (d ∈ 1..5 divides 10⁶ with identical truncation on both engines —
    * positive operands, so DuckDB's `//` IS floor here), summed as
    * BIGINT; the floor trims pairs below `minMicro` (default 4×10⁵
    * micro: one max-distance co-occurrence keeps nothing, one adjacent
    * pair survives).
    *
    * Scale shape: the [[tokenSkipgramPairs]] shape — ZERO joins, one
    * generator pass, ONE partial-aggregable sum keyed on the vocab²-
    * bounded (w, c). */
  def tokenGloveCooc(s: SparkSession, d: String, window: Int = 5,
                     minMicro: Long = 400000L): DataFrame =
    gloveCoocOf(docs(s, d), window, minMicro)

  /** The co-occurrence transform itself, shared verbatim by the batch
    * query and the streaming twin ([[graft.streaming.DocStreams
    * .gloveCoocStream]]) — a running (count, weight-sum) per (w, c) is
    * exactly the aggregate Structured Streaming maintains incrementally,
    * state vocab²-bounded BY SCHEMA (the gramOf argument). */
  private[graft] def gloveCoocOf(docsDf: DataFrame, window: Int = 5,
                                 minMicro: Long = 400000L): DataFrame =
    docsDf
      .select(split(col("text"), " ").as("ws"))
      .select(col("ws"), explode(expr("sequence(1, size(ws))")).as("i"))
      .select(explode(expr(
        s"""filter(transform(sequence(1, $window),
           |  d -> IF(i + d <= size(ws),
           |          struct(element_at(ws, i) AS w,
           |                 element_at(ws, i + d) AS c,
           |                 CAST(1000000 div d AS BIGINT) AS wt),
           |          NULL)),
           |  x -> x IS NOT NULL)""".stripMargin)).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"), col("p.wt").as("wt"))
      .groupBy(col("w"), col("c"))
      .agg(count(lit(1)).as("n"), sum(col("wt")).as("x_micro"))
      .where(col("x_micro") >= minMicro)

  /** DuckDB twin of [[tokenGloveCooc]]. */
  def tokenGloveCoocSql(window: Int = 5, minMicro: Long = 400000L): String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
       |x AS (SELECT ws, unnest(generate_series(1, len(ws))) AS i FROM t),
       |p AS (
       |  SELECT ws[i] AS w, ws[i + dd.d] AS c,
       |         CAST(1000000 // dd.d AS BIGINT) AS wt
       |  FROM x CROSS JOIN
       |    (SELECT unnest(generate_series(1, $window)) AS d) dd
       |  WHERE i + dd.d <= len(ws))
       |SELECT w, c, count(*) AS n, CAST(sum(wt) AS BIGINT) AS x_micro
       |FROM p GROUP BY 1, 2 HAVING sum(wt) >= $minMicro
       |ORDER BY w, c""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_keyphrases" -> ((s, d) => docKeyphrases(s, d)),
    "token_skipgram_pairs" -> ((s, d) => tokenSkipgramPairs(s, d)),
    "token_glove_cooc" -> ((s, d) => tokenGloveCooc(s, d)),
    "doc_novelty" -> (docNovelty _),
    "corpus_lang_overlap" -> (corpusLangOverlap _),
    "inverted_index" -> ((s, d) => invertedIndex(s, d)),
    "search_bm25" -> ((s, d) => searchBm25(s, d)),
    "search_hybrid_rrf" -> (searchHybridRrf _),
    "search_mmr" -> ((s, d) => searchMmr(s, d)),
    "quality_threshold_filter" -> (qualityThresholdFilter _),
    "quality_gopher" -> (qualityGopher _),
    "doc_chunks" -> ((s, d) => docChunks(s, d)),
    "quality_deciles" -> (qualityDeciles _),
    "tfidf_topk" -> (tfidfTopk _),
    "text_stats" -> (textStats _),
    "token_topk" -> (tokenTopk _),
    "token_fuzzy_pairs" -> (tokenFuzzyPairs _),
    "token_zipf" -> (tokenZipf _),
    "token_herdan" -> (tokenHerdan _),
    "bpe_merges" -> (bpeMerges _),
    "wordpiece_merges" -> ((s, d) => wordpieceMerges(s, d)),
    "bpe_encode" -> (bpeEncode _),
    "token_bigrams" -> (tokenBigrams _),
    "token_pmi" -> (tokenPmi _),
    "token_collocations_llr" -> (tokenCollocationsLlr _),
    "token_textrank" -> ((s, d) => tokenTextrank(s, d)),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "token_bpe" -> (tokenBpe _),
    "text_quality" -> (textQuality _),
    "quality_repetition" -> (qualityRepetition _),
    "pii_redact" -> (piiRedact _),
    "lang_id" -> (langId _),
    "lang_id_fasttext" -> (langIdFasttext _),
    "lang_id_eval" -> (langIdEval _),
    "doc_fingerprint" -> (docFingerprint _),
    "doc_winnowing" -> (docWinnowing _),
    "doc_winnowing_pairs" -> ((s, d) => docWinnowingPairs(s, d)),
    "doc_length_histogram" -> (docLengthHistogram _),
    "quality_unigram_logprob" -> (qualityUnigramLogprob _),
    "quality_bigram_logprob" -> (qualityBigramLogprob _),
    "quality_kneser_ney" -> (qualityKneserNey _)
  )

  val oracles: Map[String, String] = Map(
    "doc_keyphrases" -> docKeyphrasesSql(),
    "token_skipgram_pairs" -> tokenSkipgramPairsSql(),
    "token_glove_cooc" -> tokenGloveCoocSql(),
    "doc_novelty" -> docNoveltySql,
    "corpus_lang_overlap" -> corpusLangOverlapSql,
    "inverted_index" -> invertedIndexSql,
    "search_bm25" -> searchBm25Sql,
    "search_hybrid_rrf" -> searchHybridRrfSql,
    "search_mmr" -> searchMmrSql,
    "quality_threshold_filter" -> qualityThresholdFilterSql,
    "quality_gopher" -> qualityGopherSql,
    "doc_chunks" -> docChunksSql,
    "quality_deciles" -> qualityDecilesSql,
    "tfidf_topk" -> tfidfTopkSql,
    "text_stats" -> textStatsSql,
    "token_topk" -> tokenTopkSql,
    "token_fuzzy_pairs" -> tokenFuzzyPairsSql,
    "token_zipf" -> tokenZipfSql,
    "token_herdan" -> tokenHerdanSql,
    "bpe_merges" -> bpeMergesSql(),
    "wordpiece_merges" -> wordpieceMergesSql(),
    "bpe_encode" -> bpeEncodeSql(),
    "token_bigrams" -> tokenBigramsSql,
    "token_pmi" -> tokenPmiSql,
    "token_collocations_llr" -> tokenCollocationsLlrSql,
    "token_textrank" -> tokenTextrankSql(),
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "token_bpe" -> tokenBpeSql,
    "text_quality" -> textQualitySql,
    "quality_repetition" -> qualityRepetitionSql,
    "pii_redact" -> piiRedactSql,
    "lang_id" -> langIdSql,
    "lang_id_fasttext" -> langIdFasttextSql,
    "lang_id_eval" -> langIdEvalSql,
    "doc_fingerprint" -> docFingerprintSql,
    "doc_winnowing" -> docWinnowingSql,
    "doc_winnowing_pairs" -> docWinnowingPairsSql,
    "doc_length_histogram" -> docLengthHistogramSql,
    "quality_unigram_logprob" -> qualityUnigramLogprobSql,
    "quality_bigram_logprob" -> qualityBigramLogprobSql,
    "quality_kneser_ney" -> qualityKneserNeySql
  )

  val verifyOrder: Map[String, Seq[Column]] = Map(
    "token_skipgram_pairs" -> Seq(col("w"), col("c"), col("dist")),
    "token_glove_cooc" -> Seq(col("w"), col("c")),
    "token_pmi" -> Seq(col("lang"), col("rank")),
    "token_collocations_llr" -> Seq(col("lang"), col("rank")),
    "token_textrank" -> Seq(col("lang"), col("rank")),
    "token_fuzzy_pairs" -> Seq(col("tok_a"), col("tok_b")),
    "token_zipf" -> Seq(col("lang")),
    "token_herdan" -> Seq(col("lang")),
    "bpe_merges" -> Seq(col("rank")),
    "wordpiece_merges" -> Seq(col("rank")),
    "bpe_encode" -> Seq(col("doc_id")),
    "search_hybrid_rrf" -> Seq(col("rank")),
    "search_mmr" -> Seq(col("rank")),
    "doc_novelty" -> Seq(col("doc_id")),
    "corpus_lang_overlap" -> Seq(col("lang_a"), col("lang_b")),
    "inverted_index" -> Seq(col("token")),
    "quality_threshold_filter" -> Seq(col("doc_id")),
    "quality_gopher" -> Seq(col("doc_id")),
    "doc_chunks" -> Seq(col("doc_id"), col("chunk_idx")),
    "quality_deciles" -> Seq(col("doc_id")),
    "tokenizer_fertility" -> Seq(col("lang")),
    "tfidf_topk" -> Seq(col("doc_id"), col("rank")),
    "text_stats" -> Seq(col("lang"), col("source")),
    "text_quality" -> Seq(col("doc_id")),
    "quality_repetition" -> Seq(col("doc_id")),
    "pii_redact" -> Seq(col("doc_id")),
    "lang_id" -> Seq(col("doc_id")),
    "lang_id_fasttext" -> Seq(col("doc_id")),
    "lang_id_eval" -> Seq(col("lang"), col("pred_lang")),
    "doc_fingerprint" -> Seq(col("doc_id")),
    "doc_winnowing" -> Seq(col("doc_id"), col("pos")),
    "doc_winnowing_pairs" -> Seq(col("doc_a"), col("doc_b")),
    "doc_length_histogram" -> Seq(col("bucket")),
    "quality_unigram_logprob" -> Seq(col("doc_id")),
    "quality_bigram_logprob" -> Seq(col("doc_id")),
    "quality_kneser_ney" -> Seq(col("doc_id"))
  )
}
