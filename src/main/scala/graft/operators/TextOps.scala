package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Expressions.{poly_fingerprint, simhash64}

/** §2.C text-analysis + deduplication operators over the `documents` table.
  *
  * Scale posture: everything here is map-side until the dedup bucket joins,
  * which shuffle on (band, signature) keys only — never an n² cross join.
  * Candidate generation (MinHash-LSH / SimHash bands) is linear in corpus
  * size; exact verification (Jaccard) runs only on candidates.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  private[graft] val toks: Column = split(trim(col("text")), "\\s+")

  // --- DuckDB-side fragments shared across oracles -------------------------
  // One definition per semantic (mirroring shingleCol / stopCountExpr on the
  // Spark side) so an oracle edit can't silently diverge from its siblings.
  private[operators] val DuckToks = raw"string_split_regex(trim(text), '\s+')"

  private[operators] def duckStopCount: String = {
    val lst = Stopwords.map(s => s"'$s'").mkString(", ")
    s"len(list_filter($DuckToks, t -> t IN ($lst)))"
  }

  /** `sh` CTE: doc_id + distinct 3-token shingles (DuckDB twin of
    * [[shingleCol]]).
    */
  private[operators] val DuckShingleCte: String =
    s"""sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(toks)-2),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
       |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)
       |  WHERE len(toks) >= 3
       |)""".stripMargin

  /** `pairs` CTE: exact all-pairs Jaccard over `sh` (needs [[DuckShingleCte]]). */
  private[operators] val DuckJaccardPairsCte: String =
    """pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
      |      / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |)""".stripMargin

  /** Distinct n-token grams of `toks` as an array column — the unit of
    * evidence for decontamination (q39) and coverage dedup (q51). One
    * definition so the two operators can't drift.
    */
  private[operators] def distinctGramExpr(n: Int): Column = {
    val parts = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
    expr(s"array_distinct(transform(sequence(0, size(toks)-$n), i -> concat_ws(' ', $parts)))")
  }

  /** DuckDB twin of [[distinctGramExpr]] (1-based list indexing). */
  private[operators] def duckDistinctGrams(n: Int): String = {
    val parts = (1 to n).map(j => s"toks[i+${j - 1}]").mkString(" || ' ' || ")
    s"list_distinct(list_transform(generate_series(1, len(toks) - ${n - 1}), i -> $parts))"
  }

  /** [[distinctGramExpr]] with each gram hashed to its `xxhash64` IN-ROW:
    * the gram-keyed operators (q51/q54) shuffle and join 8-byte longs
    * instead of ~50-byte 8-token strings — ~6× less exchange volume and
    * long-vs-long join compares, same distinct set (the oracles re-derive
    * the identical hashes via DuckHash, so this stays hard-verified).
    */
  private[graft] def distinctGramHashExpr(n: Int): Column =
    graft.functions.Expressions.hashed_grams(col("toks"), n)

  /** SQL for the one-pass in-bucket combination expansion over a sorted
    * array column `arr`: every (a, b) pair with a before b, shaped by
    * `structBody` (which references the paired elements as `a`/`b`).
    * Every bucketed-LSH family member shares this so the slice/index idiom
    * exists exactly once.
    */
  private[graft] def pairExpansionSql(arr: String, structBody: String): String =
    s"""flatten(transform($arr, (a, i) ->
       |  transform(slice($arr, i + 2, size($arr)), b ->
       |    struct($structBody))))""".stripMargin

  // --- C1 q20: exact dedup via content-hash groupBy ------------------------
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("h"))

  val dedupExactSql: String =
    """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  // --- C2 q21: token counting (whitespace + BPE-ish regex) -----------------
  // BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation —
  // the standard byte-pair pre-split shape. Spark SQL string literals eat
  // one level of backslash ('\s' → 's'), DuckDB's don't — hence two forms.
  private val BpeReSpark = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]"
  private val BpeReDuck  = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(toks).as("n_ws_tokens"),
        expr(s"size(regexp_extract_all(text, '$BpeReSpark', 0))").as("n_bpe_tokens"),
        length(col("text")).as("n_chars_actual")
      )
      .orderBy(col("doc_id"))

  val tokenCountSql: String =
    s"""SELECT doc_id,
       | len($DuckToks) AS n_ws_tokens,
       | len(regexp_extract_all(text, '$BpeReDuck')) AS n_bpe_tokens,
       | length(text) AS n_chars_actual
       |FROM documents ORDER BY doc_id""".stripMargin

  // --- C3 q22: quality scoring ---------------------------------------------
  /** Shared with CleanPipeline — one list, one tokenization, so the quality
    * metric and the pipeline that enforces it can't silently diverge.
    */
  private[graft] val Stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** stop-word count over the string-array SQL expression `toksSql`. */
  private[graft] def stopCountOf(toksSql: String): Column = {
    val lst = Stopwords.map(s => s"'$s'").mkString(", ")
    expr(s"size(filter($toksSql, t -> t IN ($lst)))")
  }

  /** stop-word count over whitespace tokens of `text` (shared helper). */
  private[graft] def stopCountExpr: Column = stopCountOf("split(trim(text), '\\\\s+')")

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScored(spark, dir).orderBy(col("doc_id"))

  /** The UNSORTED per-doc quality-signal table, session-shared
    * ([[SharedStages.qualityScores]]): q22 plus the whole
    * calibration/eval family (q127/q216/q220/q224/q233/q249) read these
    * columns, and the tokenize + triple-regex projection was otherwise
    * re-run per consumer per bench run. Corpus-LINEAR (one row per doc —
    * the SharedStages size contract); values identical to inlining the
    * projection.
    */
  private[graft] def qualityScored(spark: SparkSession, dir: String): DataFrame =
    SharedStages.qualityScores(spark, dir)

  /** The raw quality-score projection the shared stage materializes. */
  private[graft] def qualityScorePlan(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        stopCountExpr.as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", "")))
          .as("n_punct"),
        length(regexp_replace(col("text"), "\\s", "")).as("n_nonspace")
      )
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("avg_token_len", col("n_nonspace") / col("n_tokens"))
  }

  val qualityScoreSql: String =
    s"""SELECT doc_id, n_tokens, n_stop, n_punct, n_nonspace,
       | n_stop / n_tokens AS stop_ratio,
       | n_nonspace / n_tokens AS avg_token_len
       |FROM (
       | SELECT doc_id,
       |  len($DuckToks) AS n_tokens,
       |  $duckStopCount AS n_stop,
       |  length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       |  length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
       | FROM documents)
       |ORDER BY doc_id""".stripMargin

  // --- C13 q34: corpus top-terms (token frequency analytics) ---------------
  val TopTerms = 20

  def topTerms(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(TopTerms)

  val topTermsSql: String =
    s"""SELECT token, COUNT(*) AS n FROM (
       | SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents)
       |GROUP BY token ORDER BY n DESC, token LIMIT $TopTerms""".stripMargin

  // --- C37 q59: PMI collocation mining --------------------------------------
  val PmiMinCount = 5
  val PmiTopK     = 20

  /** Top-[[PmiTopK]] bigram collocations by pointwise mutual information
    * `ln(p(ab) / (p(a)·p(b)))` with a [[PmiMinCount]] support floor (rare
    * pairs otherwise dominate PMI on noise) — the corpus-level association
    * miner that complements q34's raw frequencies: "which token pairs occur
    * together far more than chance", the standard phrase/collocation signal
    * for tokenizer and n-gram vocabulary curation.
    *
    * Scale shape: bigram and unigram counts are the two classic keyed
    * aggregates (map-side combinable; output bounded by vocabulary, not
    * corpus); the unigram table is persisted because BOTH position joins
    * consume it — without that, each join branch would re-explode the
    * corpus. Token totals come from a separate map-side sum over the doc
    * scan (one row, no shuffle, broadcast back) — never a window over the
    * vocab-sized table. The final top-k is a TakeOrdered over the
    * min-count-filtered join, ordered by the UNROUNDED pmi (bit-identical
    * across engines) with ties to the gram.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame =
    pmiCollocationsOf(docs(spark, dir))

  private[graft] def pmiCollocationsOf(corpus: DataFrame): DataFrame = {
    val base = corpus.select(toks.as("toks"))
    val bigrams = expr(
      """CASE WHEN size(toks) >= 2 THEN
        |  transform(sequence(1, size(toks) - 1),
        |    i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
        |ELSE cast(array() AS array<string>) END""".stripMargin)
    val bi = base
      .select(explode(bigrams).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinCount)
    val uni = base
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = base.agg(
      sum(size(col("toks")).cast("long")).as("n1"),
      sum(greatest(size(col("toks")) - 1, lit(0)).cast("long")).as("n2"))
    val pmi = log(
      (col("c_ab").cast("double") * col("n1").cast("double") * col("n1").cast("double")) /
        (col("c_a").cast("double") * col("c_b").cast("double") * col("n2").cast("double")))
    bi
      .withColumn("a", element_at(split(col("gram"), " "), 1))
      .withColumn("b", element_at(split(col("gram"), " "), 2))
      .join(uni.select(col("token").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("token").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("gram"), col("c_ab"), col("c_a"), col("c_b"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("gram"))
      .limit(PmiTopK)
      .select(col("gram"), col("c_ab"), col("c_a"), col("c_b"), round(col("pmi"), 6).as("pmi"))
  }

  /** Oracle: same counts, same left-associated double products inside one
    * `ln` (correctly-rounded ops → bit-identical), same unrounded ordering.
    */
  val pmiCollocationsSql: String =
    s"""WITH q59t AS (SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |q59b AS (
       |  SELECT gram, count(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS gram
       |    FROM q59t)
       |  GROUP BY gram HAVING count(*) >= $PmiMinCount),
       |q59u AS (
       |  SELECT token, count(*) AS c FROM (SELECT unnest(toks) AS token FROM q59t) GROUP BY token),
       |q59n AS (
       |  SELECT CAST(sum(len(toks)) AS BIGINT) AS n1,
       |         CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n2 FROM q59t)
       |SELECT gram, c_ab, c_a, c_b, round(pmi, 6) AS pmi FROM (
       |  SELECT gram, c_ab, ua.c AS c_a, ub.c AS c_b,
       |    ln((c_ab::DOUBLE * n1::DOUBLE * n1::DOUBLE) /
       |       (ua.c::DOUBLE * ub.c::DOUBLE * n2::DOUBLE)) AS pmi
       |  FROM q59b
       |  JOIN q59u ua ON ua.token = split_part(gram, ' ', 1)
       |  JOIN q59u ub ON ub.token = split_part(gram, ' ', 2), q59n)
       |ORDER BY pmi DESC, gram
       |LIMIT $PmiTopK""".stripMargin

  // --- C4 q23: language-ID heuristic (rows-only) ---------------------------
  private val LangStops: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ein", "ist"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "que", "los", "y"),
    "fr" -> Seq("le", "les", "des", "et", "un")
  )

  def langId(spark: SparkSession, dir: String): DataFrame = {
    // tokenize once; each language counts over the shared token array
    val counts = LangStops.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(ltoks, t -> t IN ($lst)))").cast("long").as(s"c_$lang")
    }
    val base = docs(spark, dir)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("ltoks"))
      .select(col("doc_id") +: counts: _*)
    // deterministic argmax: first language (alphabetical) with the max count;
    // all-zero → 'und' (undetermined)
    val langs  = LangStops.map(_._1)
    val maxCnt = greatest(langs.map(l => col(s"c_$l")): _*)
    val guess = langs
      .foldLeft(when(maxCnt === 0, "und")) { (acc, l) =>
        acc.when(col(s"c_$l") === maxCnt, l)
      }
      .otherwise("und")
    base
      .withColumn("lang_guess", guess)
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val countCols = LangStops.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t IN ($lst))) AS c_$lang"
    }.mkString(",\n  ")
    val langs = LangStops.map(_._1)
    val g     = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN c_$l = $g THEN '$l'").mkString(" ")
    s"""SELECT doc_id, c_de, c_en, c_es, c_fr,
       | CASE WHEN $g = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess
       |FROM (SELECT doc_id,
       |  $countCols
       | FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  // --- C38 q60: winnowing fingerprints --------------------------------------
  val WinnowK = 4
  val WinnowW = 4

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every token [[WinnowK]]-gram, slide a
    * [[WinnowW]]-hash window, and keep each window's minimum (rightmost on
    * ties). Guarantees any shared run of ≥ W+K-1 tokens between two
    * documents shares a fingerprint, at ~2/(W+1) the density of full k-gram
    * sets — the local, position-robust complement to q24's whole-doc hash
    * (one edit changes q24; winnowing keeps every fingerprint outside the
    * edited window) and to q25's MinHash (global similarity vs local
    * containment). Minima compare in SIGNED hash order — an arbitrary but
    * engine-consistent total order, which is all winnowing needs.
    *
    * Entirely in-row (gram build, xxhash64, window fold — one generated-code
    * pass, no UDF, no join); the only shuffle is the output sort. Docs
    * shorter than W+K-1 tokens emit nothing (the guarantee needs a full
    * window; the CASE also dodges Spark's descending-`sequence` trap).
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOf(docs(spark, dir))

  private[graft] def winnowFingerprintsOf(corpus: DataFrame): DataFrame =
    winnowFps(corpus).orderBy(col("doc_id"), col("pos"))

  /** Unsorted (doc_id, pos, fp) winnowing output — shared by q60 and the
    * q64 shared-run detector (which aggregates it and must not inherit a
    * pointless pre-sort).
    */
  private[graft] def winnowFps(corpus: DataFrame): DataFrame = {
    // One codegen'd WinnowFps call per row (gram hashing + window fold +
    // dedupe in compiled code). This replaced a doubly-nested
    // higher-order-function expression whose lambdas evaluate INTERPRETED
    // per element — one dispatch per window step per row; 1.26 s → 0.91 s
    // for q60 at sf0.1 — and before that, a withColumn formulation that
    // collapsed projections re-inlined into every fold step (~8× the
    // suite). Same output, same oracle.
    import graft.functions.Expressions.winnow_fps
    corpus
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(winnow_fps(col("toks"), WinnowK, WinnowW)).as("f"))
      .select(col("doc_id"), col("f.pos").as("pos"), col("f.fp").as("fp"))
  }

  /** Oracle: DISTINCT 4-grams hashed via [[graft.functions.DuckHash]], the
    * per-doc hash sequence rebuilt in gram order, and the same
    * rightmost-argmin window fold as a nested lambda (scalar BIGINT
    * accumulator — safe from the struct-fold bug documented on q41).
    */
  /** CTE chain rebuilding the winnowing output as relation `q60fp`
    * (doc_id, pos, fp) — shared by the q60 and q64 oracles.
    */
  private lazy val winnowCtes: Seq[(String, String)] = winnowCtesFrom("q60", "documents")

  /** The same chain over an arbitrary (doc_id, text) relation with a
    * caller-chosen CTE prefix, ending at `<pfx>fp` — q221 runs it twice
    * (original + perturbed twin).
    */
  private[operators] def winnowCtesFrom(pfx: String, srcRel: String): Seq[(String, String)] = {
    import graft.functions.DuckHash._
    val W = WinnowW
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      s"${pfx}t" -> s"(SELECT doc_id, $DuckToks AS toks FROM $srcRel)",
      s"${pfx}gl" ->
        (s"(SELECT doc_id, list_transform(range(1, len(toks) - ${WinnowK - 1} + 1), " +
          s"i -> array_to_string(toks[i:i + ${WinnowK - 1}], ' ')) AS gl FROM ${pfx}t)"),
      s"${pfx}g" -> s"(SELECT doc_id, unnest(range(1, len(gl) + 1)) AS i, unnest(gl) AS gram FROM ${pfx}gl)",
      s"${pfx}d" -> s"(SELECT gram, ${bytesOf("gram")} AS b FROM (SELECT DISTINCT gram FROM ${pfx}g))"
    )
    val hb = hashBytesChain(s"${pfx}hx", s"${pfx}d", Seq("gram"), "42", "hs")
    ctes ++= hb.ctes
    ctes += (s"${pfx}f" -> s"(SELECT gram, CAST(${toSigned("hs")} AS BIGINT) AS h FROM ${hb.last})")
    ctes += (s"${pfx}hs" ->
      s"(SELECT g.doc_id, list(f.h ORDER BY g.i) AS hs FROM ${pfx}g g JOIN ${pfx}f f USING (gram) GROUP BY g.doc_id)")
    ctes += (s"${pfx}sel" ->
      s"""(SELECT doc_id, hs,
         |    unnest(list_distinct(list_transform(range(1, len(hs) - ${W - 1} + 1),
         |      w -> list_reduce(list_prepend(w, range(w + 1, w + $W)),
         |             (acc, j) -> CASE WHEN hs[j] <= hs[acc] THEN j ELSE acc END)))) AS pos
         |  FROM ${pfx}hs)""".stripMargin)
    ctes += (s"${pfx}fp" -> s"(SELECT doc_id, pos::INTEGER AS pos, hs[pos] AS fp FROM ${pfx}sel)")
    ctes.toSeq
  }

  lazy val winnowFingerprintsSql: String = {
    import graft.functions.DuckHash.assemble
    assemble(winnowCtes, "SELECT doc_id, pos, fp FROM q60fp ORDER BY doc_id, pos")
  }

  // --- q221: fingerprint robustness under perturbation ------------------------

  /** Every [[PerturbEvery]]-th token is dropped in the perturbed twin —
    * a 2% deletion, the "small edit" a fingerprint scheme must survive. */
  val PerturbEvery = 50

  /** Robustness audit of the q60 winnowing scheme: per source, how much
    * of each document's fingerprint SET survives a deterministic 2% token
    * deletion (every 50th token dropped) — set overlap `|F∩F'|/|F∪F'|`
    * per doc, rolled up to mean overlap and a fragile-doc count
    * (overlap < 0.5). Winnowing guarantees any ≥ W+K−1-token shared run
    * yields a shared fingerprint, but the GUARANTEE is about runs, not
    * sets: a scheme whose fingerprint set churns wholesale under small
    * edits makes q64's pair evidence and q52-style incremental stores
    * flap on re-crawls (the density/robustness trade the winnowing paper
    * §5 prices) — this measures the churn on the corpus's own text
    * before a 100 TB store commits to (K, W).
    *
    * Scale shape: two map-side codegen'd winnow passes (original +
    * perturbed twin — the perturb filter is one interpreted HOF per doc,
    * off the per-token hot path), ONE (doc, fp)-keyed aggregate with
    * map-side combine folding both legs' membership flags, one doc-keyed
    * rollup + one ≤|sources| rollup of micro-quantized order-free
    * integer sums; the fragile verdict is an integer cross-multiply.
    */
  def fingerprintRobustness(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
    val pert = base.select(
      col("doc_id"),
      expr(s"array_join(filter(split(trim(text), '\\\\s+'), (t, i) -> (i + 1) % $PerturbEvery != 0), ' ')")
        .as("text"))
    val tagged = winnowFps(base)
      .select(col("doc_id"), col("fp"), lit(0).as("leg"))
      .unionAll(winnowFps(pert).select(col("doc_id"), col("fp"), lit(1).as("leg")))
    val perDoc = tagged
      .groupBy(col("doc_id"), col("fp"))
      .agg(
        max(when(col("leg") === 0, 1).otherwise(0)).as("ino"),
        max(when(col("leg") === 1, 1).otherwise(0)).as("inp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_union"),
        sum(when(col("ino") === 1 && col("inp") === 1, 1L).otherwise(0L)).as("n_both"))
    base
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_both") * 2 < col("n_union"), 1L).otherwise(0L)).as("n_fragile"),
        sum(expr("CAST(round(1000000.0 * n_both / n_union, 0) AS BIGINT)")).as("jq"))
      .select(
        col("source"), col("n_docs"), col("n_fragile"),
        round(col("jq").cast("double") / (col("n_docs") * lit(1000000L)).cast("double"), 6)
          .as("mean_overlap"))
      .orderBy(col("source"))
  }

  /** Oracle: the winnow chain run twice — verbatim over `documents` and
    * over the index-filtered perturbed twin — then the identical
    * flag-fold, integer cross-multiply, and micro-quantized rollup.
    */
  lazy val fingerprintRobustnessSql: String = {
    import graft.functions.DuckHash.assemble
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](winnowCtes: _*)
    ctes += ("q221p" ->
      s"""(SELECT doc_id, array_to_string(
         |   list_filter($DuckToks, (t, i) -> i % $PerturbEvery != 0), ' ') AS text
         | FROM documents)""".stripMargin)
    ctes ++= winnowCtesFrom("q221w", "q221p")
    ctes += ("q221u" ->
      """(SELECT doc_id, fp, 0 AS leg FROM q60fp
        | UNION ALL
        | SELECT doc_id, fp, 1 AS leg FROM q221wfp)""".stripMargin)
    ctes += ("q221m" ->
      """(SELECT doc_id, fp,
        |    max(CASE WHEN leg = 0 THEN 1 ELSE 0 END) AS ino,
        |    max(CASE WHEN leg = 1 THEN 1 ELSE 0 END) AS inp
        |  FROM q221u GROUP BY doc_id, fp)""".stripMargin)
    ctes += ("q221d" ->
      """(SELECT doc_id, CAST(count(*) AS BIGINT) AS n_union,
        |    CAST(sum(CASE WHEN ino = 1 AND inp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |  FROM q221m GROUP BY doc_id)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN p.n_both * 2 < p.n_union THEN 1 ELSE 0 END) AS BIGINT) AS n_fragile,
        |  round(CAST(sum(CAST(round(1000000.0 * p.n_both / p.n_union, 0) AS BIGINT)) AS DOUBLE)
        |    / (count(*) * 1000000)::DOUBLE, 6) AS mean_overlap
        |FROM q221d p JOIN documents d USING (doc_id)
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin)
  }

  // --- q64: cross-doc shared-run detection ----------------------------------
  val SharedRunMaxFpDocs = 16

  /** Which document PAIRS share long token runs — the cross-doc consumer of
    * q60's fingerprints (exact-substring-duplication evidence, the
    * Lee-et-al. "deduplicating training data" family): any run of
    * ≥ W+K−1 = 7 shared tokens is GUARANTEED to surface as ≥1 shared
    * fingerprint. Per pair: the number of shared distinct fingerprints and
    * a containment ratio (shared / the smaller doc's fingerprint count).
    *
    * Scale shape: pairs come from the LSH bucket-expansion idiom — one
    * aggregate keyed on the fingerprint, doc pairs expanded IN-ROW from
    * each fingerprint's sorted doc set, never a fingerprint self-join.
    * Fingerprints present in more than [[SharedRunMaxFpDocs]] docs are
    * boilerplate (the q39/q51 stop-gram rule): dropped before expansion,
    * which caps the quadratic fan-out per fingerprint by construction.
    * The per-doc totals ride a doc-keyed join that AQE broadcasts (the
    * pair side is tiny after aggregation).
    */
  def sharedRuns(spark: SparkSession, dir: String): DataFrame =
    sharedRunsOf(docs(spark, dir))

  private[graft] def sharedRunsOf(corpus: DataFrame): DataFrame = {
    val fps = winnowFps(corpus).select(col("doc_id"), col("fp")).distinct()
    val tot = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("tot"))
    val pairs = fps
      .groupBy(col("fp"))
      // rows are (doc_id, fp)-distinct upstream, so the exact count is the
      // distinct doc count and the bounded cap+1 heap holds the WHOLE doc
      // set of any kept fingerprint (the bucketPairs rule — a boilerplate
      // fingerprint clamps at cap+1 rows of state, then its count drops it)
      .agg(
        count(lit(1)).as("nb"),
        graft.functions.Expressions
          .collect_topk(col("doc_id"), SharedRunMaxFpDocs + 1).as("ids"))
      .filter(col("nb").between(2, SharedRunMaxFpDocs))
      .select(array_sort(col("ids")).as("ids"))
      .select(explode(expr(pairExpansionSql("ids", "a AS doc_a, b AS doc_b"))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(tot.select(col("doc_id").as("doc_a"), col("tot").as("tot_a")), Seq("doc_a"))
      .join(tot.select(col("doc_id").as("doc_b"), col("tot").as("tot_b")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_shared"),
        round(
          col("n_shared").cast("double") / least(col("tot_a"), col("tot_b")).cast("double"),
          4).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: the q60 chain + a within-fingerprint pair join under the same
    * document-frequency gate, with the identical single double division.
    */
  lazy val sharedRunsSql: String = {
    import graft.functions.DuckHash.assemble
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](winnowCtes: _*)
    ctes += ("q64fps" -> "(SELECT DISTINCT doc_id, fp FROM q60fp)")
    ctes += ("q64tot" -> "(SELECT doc_id, count(*) AS tot FROM q64fps GROUP BY doc_id)")
    ctes += ("q64ok" ->
      s"(SELECT fp FROM q64fps GROUP BY fp HAVING count(*) BETWEEN 2 AND $SharedRunMaxFpDocs)")
    ctes += ("q64p" ->
      """(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM q64fps a JOIN q64ok k USING (fp)
        |  JOIN q64fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT doc_a, doc_b, n_shared,
        |  round(n_shared::DOUBLE / least(ta.tot, tb.tot)::DOUBLE, 4) AS containment
        |FROM q64p JOIN q64tot ta ON ta.doc_id = doc_a JOIN q64tot tb ON tb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  // --- C5 q24: document fingerprint ----------------------------------------
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), poly_fingerprint(toks).as("fp"))
      .orderBy(col("doc_id"))

  /** DuckDB oracle reproducing [[graft.functions.Expressions.PolyFingerprint]]
    * bit-for-bit: Java's 64-bit wraparound is emulated with HUGEINT (int128)
    * arithmetic mod 2^64, then mapped back to signed. Per-token byte hashing
    * iterates characters (`ord`), which equals byte iteration for the ASCII
    * corpus — the synthetic documents are all-ASCII by construction. The
    * `c <> ''` filter handles the empty token an empty/whitespace-only text
    * produces: DuckDB's `string_split('', '')` yields [''] and ord('') is
    * -1, where Java's byte loop over zero bytes yields 0.
    */
  val fingerprintSql: String =
    raw"""SELECT doc_id,
         | CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
         |           THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fp
         |FROM (
         | SELECT doc_id,
         |  list_reduce(
         |    list_prepend(1125899906842597::HUGEINT,
         |      list_transform(string_split_regex(trim(text), '\s+'),
         |        t -> list_reduce(list_prepend(0::HUGEINT,
         |               list_transform(list_filter(string_split(t, ''), c -> c <> ''),
         |                              c -> ord(c)::HUGEINT)),
         |             (a, x) -> (31*a + x) % 18446744073709551616::HUGEINT))),
         |    (a, th) -> (1000003*a + th) % 18446744073709551616::HUGEINT) AS h
         | FROM documents)
         |ORDER BY doc_id""".stripMargin

  // --- shared shingle machinery for C6/C8 (+ streaming twin) ---------------
  /** Distinct 3-token shingles over a `toks` column — one definition shared
    * by the batch dedup path and the streaming twin so they can't drift.
    */
  private[graft] val shingleCol: Column =
    expr(
      "array_distinct(transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
    )

  /** doc_id + distinct 3-token shingles (docs shorter than 3 tokens drop
    * out) — the RAW plan. Operators consume the session-shared
    * materialization [[SharedStages.shingles]] instead, so the corpus is
    * tokenized+shingled once per session, not once per query.
    */
  private[operators] def shingledPlan(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), shingleCol.as("shingles"))

  // --- C6 q25: MinHash + LSH banding → near-dup candidate pairs ------------
  // k=32 permutations, 8 bands × 4 rows: P(candidate | jaccard j) =
  // 1-(1-j^4)^8 — ≈1.0 at j≥0.9, ≈0 for unrelated docs. Shuffle is on
  // (band, band_hash) only; bucket sizes stay tiny under any corpus size
  // unless docs truly collide.
  private val MinhashK = 32
  private val Bands    = 8
  private val RowsPerBand = MinhashK / Bands

  // Map-side signatures: each doc's shingle array is already one row, so
  // min-per-permutation is an array fold (`array_min(transform(...))`),
  // NOT an explode + groupBy — zero shuffle, and at 100 TB the signature
  // stage stays embarrassingly parallel. Each shingle STRING is hashed
  // exactly once ([[minhashBaseCol]]); permutation i then mixes the 64-bit
  // base hash with the index — long mixing is ~10× cheaper than re-hashing
  // the string bytes k times, and xxhash64 on a 64-bit value is as valid a
  // permutation family as xxhash64 on the string.
  private[graft] val minhashBaseCol: Column =
    expr("transform(shingles, s -> xxhash64(s))")

  /** All k signature minima in one codegen'd pass over the base hashes —
    * value-identical to k separate `array_min(transform(bh, b ->
    * xxhash64(b, i)))` folds (same XXH64 chain), ~k× cheaper.
    */
  private[graft] val minhashSigsArray: Column =
    graft.functions.Expressions.minhash_signatures(minhashBaseCol, MinhashK)

  private[graft] val minhashSigCols: Seq[Column] = (0 until MinhashK).map { i =>
    col("sigs").getItem(i).as(s"s$i")
  }

  /** s0..s31 → array of (band, band-hash) structs, over signature columns. */
  private[graft] val bandArray: Column = array((0 until Bands).map { bIdx =>
    val cols = (0 until RowsPerBand).map(r => col(s"s${bIdx * RowsPerBand + r}"))
    struct(lit(bIdx).as("band"), xxhash64(cols: _*).as("bh"))
  }: _*)

  private def minhashSigsFrom(sh: DataFrame): DataFrame =
    sh.withColumn("sigs", minhashSigsArray).select(col("doc_id") +: minhashSigCols: _*)

  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigsFrom(SharedStages.shingles(spark, dir))

  /** LSH candidate pairs from a shingle DataFrame (unordered). */
  private[operators] def minhashLshFrom(sh: DataFrame): DataFrame = {
    val bands = minhashSigsFrom(sh)
      .select(col("doc_id"), explode(bandArray).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    TextOps.bucketPairs(bands, Seq("band", "bh"), "doc_id")
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    SharedStages.minhashEdges(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** q25's candidate pairs without the presentation sort — the edge feed
    * for q78's fuzzy-dedup components (the sort would be a wasted global
    * exchange on an already-materialized shared stage).
    */
  private[operators] def minhashCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    SharedStages.minhashEdges(spark, dir)

  /** DuckDB oracle reproducing the ENTIRE MinHash-LSH pipeline bit-for-bit —
    * Spark's `xxhash64` (seed-42 string hash, int chaining for permutations,
    * long chaining for band hashes) is emulated in HUGEINT mod-2^64
    * arithmetic via [[graft.functions.DuckHash]]. Unlike the q27 oracle
    * (probabilistic equivalence to exact all-pairs), this is an exact
    * identity: same signatures, same band hashes, same buckets, same pairs.
    *
    * Plan shape mirrors the Spark side's scale posture: DISTINCT shingles
    * are hashed once (not per instance), the 32 permutations explode over
    * DISTINCT base hashes only, and the band table is MATERIALIZED so the
    * three probes (two join sides + bucket-size filter) evaluate it once.
    */
  /** The full MinHash pipeline CTE chain (shingles → signatures → band
    * hashes → bounded buckets) — shared by [[minhashLshSql]] and the q138
    * calibration oracle so the signature emulation cannot drift.
    */
  private def minhashPipelineCtes(): scala.collection.mutable.ArrayBuffer[(String, String)] = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q25sh" ->
        s"""(SELECT doc_id,
           |    list_distinct(list_transform(generate_series(1, len(toks)-2),
           |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
           |  WHERE len(toks) >= 3)""".stripMargin,
      "q25inst" -> "(SELECT doc_id, unnest(shingles) AS s FROM q25sh)",
      "q25b"    -> s"(SELECT s, ${bytesOf("s")} AS b FROM (SELECT DISTINCT s FROM q25inst))"
    )
    val hb = hashBytesChain("q25hx", "q25b", Seq("s"), "42", "hb")
    ctes ++= hb.ctes
    // base hash per DISTINCT shingle string, then one hashLong mixing level
    // (Spark side: xxhash64(s) once, xxhash64(base, i) per permutation)
    ctes += ("q25bd" -> s"(SELECT DISTINCT hb FROM ${hb.last})")
    val bm = new SqlChain("q25bm", "q25bd", Seq("hb"))
    hashLongLevels(bm, "hb", "42", "hb2")
    ctes ++= bm.ctes
    ctes += ("q25pd" -> s"(SELECT hb, hb2, i FROM ${bm.last}, range(0, $MinhashK) r(i))")
    val hi = new SqlChain("q25hi", "q25pd", Seq("hb", "i", "hb2"))
    hashIntLevels(hi, "i", "hb2", "hi")
    ctes ++= hi.ctes
    ctes += ("q25sig" ->
      s"""(SELECT t.doc_id, h.i, min(${toSigned("h.hi")}) AS sig
         |    FROM q25inst t JOIN ${hb.last} d ON t.s = d.s JOIN ${hi.last} h ON h.hb = d.hb
         |    GROUP BY t.doc_id, h.i)""".stripMargin)
    ctes += ("q25u" ->
      s"(SELECT doc_id, i // $RowsPerBand AS band, i % $RowsPerBand AS r, ${toUnsigned("sig")} AS sigu FROM q25sig)")
    ctes += ("q25s0" -> "(SELECT DISTINCT doc_id, band, 42::HUGEINT AS h FROM q25u)")
    var cur = "q25s0"
    (0 until RowsPerBand).foreach { r =>
      ctes += (s"q25f${r}in" ->
        s"""(SELECT x.doc_id, x.band, x.h AS seed, u.sigu AS l FROM $cur x
           |    JOIN q25u u ON u.doc_id = x.doc_id AND u.band = x.band AND u.r = $r)""".stripMargin)
      val ch = new SqlChain(s"q25f$r", s"q25f${r}in", Seq("doc_id", "band", "seed", "l"))
      hashLongLevels(ch, "l", "seed", "h")
      ctes ++= ch.ctes
      cur = ch.last
    }
    ctes += ("q25bl" -> s"(SELECT doc_id, band, h AS bh FROM $cur)")
    ctes += ("q25bk" -> s"(SELECT band, bh FROM q25bl GROUP BY band, bh HAVING count(*) BETWEEN 2 AND $MaxBucket)")
    ctes
  }

  lazy val minhashLshSql: String = {
    import graft.functions.DuckHash._
    assemble(
      minhashPipelineCtes().toSeq,
      """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM q25bl a JOIN q25bl b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |JOIN q25bk k ON k.band = a.band AND k.bh = a.bh
        |ORDER BY doc_a, doc_b""".stripMargin
    )
  }

  // --- q138: MinHash estimator calibration -----------------------------------

  /** Calibration of the MinHash ESTIMATOR against exact Jaccard on the
    * candidate pairs: per matching-component count (0..[[MinhashK]]),
    * how many pairs, the estimator's implied similarity `k/32`, the mean
    * exact Jaccard, and the mean absolute estimation error — the sketch-
    * quality audit that says whether 32 permutations are enough for the
    * corpus at hand (a fat error column at the 0.9 decision boundary
    * means the dedup cut is being made by noise; q84 audits the BANDING's
    * recall, this audits the SIGNATURE's fidelity).
    *
    * Scale shape: signatures are the same map-side codegen'd folds the
    * LSH path uses (shared shingle stage, zero extra corpus passes); the
    * component-match count is a 32-term in-row comparison after two
    * doc-keyed joins of the dup-rate-bounded edge list; exact Jaccard is
    * the standard verify join at cut 0. The rollup is ≤33 rows, but a
    * single n_match bin can hold ALL pairs, so the per-bin means are
    * order-free integer sums, never ordered collects: the 4-dp Jaccard
    * quantizes exactly to jq = j·10⁴, and the abs estimation error is
    * the exact integer |n_match·10⁴ − K·jq| over denominator K·10⁴ —
    * both sums are map-side combinable and bit-exact in any order
    * (long headroom ≈ 10^13 pairs per bin).
    */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val sh    = SharedStages.shingles(spark, dir)
    val edges = SharedStages.minhashEdges(spark, dir)
    val sigs  = minhashSigsFrom(sh)
    val sa = sigs.select(
      col("doc_id").as("doc_a") +: (0 until MinhashK).map(i => col(s"s$i").as(s"a$i")): _*)
    val sb = sigs.select(
      col("doc_id").as("doc_b") +: (0 until MinhashK).map(i => col(s"s$i").as(s"b$i")): _*)
    val matchExpr = (0 until MinhashK)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = edges
      .join(sa, "doc_a")
      .join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), matchExpr.as("n_match"))
    est
      .join(verifyJaccard(edges, sh, 0.0), Seq("doc_a", "doc_b"))
      .withColumn("jq", expr("CAST(round(jaccard * 10000, 0) AS BIGINT)"))
      .withColumn("eq",
        abs(col("n_match") * lit(10000L) - lit(MinhashK.toLong) * col("jq")))
      .groupBy(col("n_match"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("jq")).as("sj"),
        sum(col("eq")).as("se"))
      .select(
        col("n_match"),
        round(col("n_match").cast("double") / lit(MinhashK.toDouble), 6).as("est_jaccard"),
        col("n_pairs"),
        round(col("sj").cast("double") / (col("n_pairs") * lit(10000L)).cast("double"), 6)
          .as("mean_exact"),
        round(col("se").cast("double")
          / (col("n_pairs") * lit(10000L * MinhashK)).cast("double"), 6)
          .as("mean_abs_err"))
      .orderBy(col("n_match"))
  }

  /** q138 oracle: the shared MinHash pipeline CTEs (bit-exact signatures
    * and pairs), component-match counts from the emulated signature
    * table, the same verify-at-0 exact Jaccard, and the same
    * integer-exact quantized sums.
    */
  lazy val minhashCalibrationSql: String = {
    import graft.functions.DuckHash._
    val ctes = minhashPipelineCtes()
    ctes += ("q138pr" ->
      """(SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM q25bl a JOIN q25bl b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |  JOIN q25bk k ON k.band = a.band AND k.bh = a.bh)""".stripMargin)
    ctes += ("q138m" ->
      """(SELECT p.doc_a, p.doc_b,
        |    sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)::BIGINT AS n_match
        |  FROM q138pr p
        |  JOIN q25sig a ON a.doc_id = p.doc_a
        |  JOIN q25sig b ON b.doc_id = p.doc_b AND b.i = a.i
        |  GROUP BY p.doc_a, p.doc_b)""".stripMargin)
    ctes += ("q138x" ->
      """(SELECT p.doc_a, p.doc_b,
        |    round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
        |      / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
        |  FROM q138pr p
        |  JOIN q25sh sa ON sa.doc_id = p.doc_a
        |  JOIN q25sh sb ON sb.doc_id = p.doc_b)""".stripMargin)
    ctes += ("q138j" ->
      s"""(SELECT m.doc_a, m.doc_b, m.n_match,
         |    CAST(round(x.jaccard * 10000, 0) AS BIGINT) AS jq,
         |    abs(m.n_match * 10000 - $MinhashK * CAST(round(x.jaccard * 10000, 0) AS BIGINT)) AS eq
         |  FROM q138m m JOIN q138x x ON x.doc_a = m.doc_a AND x.doc_b = m.doc_b)""".stripMargin)
    assemble(
      ctes.toSeq,
      s"""SELECT n_match,
         |  round(n_match::DOUBLE / ${MinhashK}.0, 6) AS est_jaccard,
         |  count(*)::BIGINT AS n_pairs,
         |  round(sum(jq)::DOUBLE / (count(*) * 10000)::DOUBLE, 6) AS mean_exact,
         |  round(sum(eq)::DOUBLE / (count(*) * ${10000L * MinhashK})::DOUBLE, 6) AS mean_abs_err
         |FROM q138j GROUP BY n_match
         |ORDER BY n_match""".stripMargin
    )
  }

  /** DuckDB oracle for [[simhashPairs]] — also an exact identity, and
    * additionally band-free: hamming ≤ 3 over 4 bands of 16 bits
    * pigeonholes into "at least one band equal", so banded-LSH-then-filter
    * equals plain all-pairs hamming ≤ 3 (the only divergence would be a
    * >[[MaxBucket]] band bucket, impossible at the oracle's corpus size).
    * Token hashes are computed over DISTINCT tokens then re-joined with
    * multiplicity (SimHash weights by occurrence count).
    */
  lazy val simhashSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q26t" -> "(SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS s FROM documents)",
      "q26b" -> s"(SELECT s, ${bytesOf("s")} AS b FROM (SELECT DISTINCT s FROM q26t))"
    )
    val hb = hashBytesChain("q26hx", "q26b", Seq("s"), "42", "hb")
    ctes ++= hb.ctes
    val bitSum =
      "list_reduce(list_prepend(0::HUGEINT, list_transform(range(0, 64), bit -> " +
        "CASE WHEN 2 * len(list_filter(hs, h -> (h // (1::HUGEINT << bit)) % 2 = 1)) > len(hs) " +
        "THEN (1::HUGEINT << bit) ELSE 0::HUGEINT END)), (a, x) -> a + x)"
    ctes += ("q26hs" ->
      s"(SELECT t.doc_id, list(d.hb) AS hs FROM q26t t JOIN ${hb.last} d ON t.s = d.s GROUP BY t.doc_id)")
    ctes += ("q26s" -> s"(SELECT doc_id, CAST($bitSum AS UBIGINT) AS sim FROM q26hs)")
    assemble(
      ctes.toSeq,
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  bit_count(xor(a.sim, b.sim))::INTEGER AS hamming
        |FROM q26s a JOIN q26s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin
    )
  }

  /** One-pass LSH bucket → candidate-pair expansion: group by bucket key,
    * collect member ids, emit all in-bucket combinations. A self-join on the
    * bucket key would compute the whole upstream (signature pipeline) twice
    * — this shape scans it once and shuffles only (bucket, id) rows.
    * Buckets larger than [[MaxBucket]] are degenerate (e.g. empty-text
    * collisions) and dropped, bounding the quadratic expansion — and the
    * collection itself is a bounded cap+1 heap beside an exact count, so
    * a viral bucket is CLAMPED at cap+1 rows of aggregation state and
    * then dropped by its count, never buffered whole before the size
    * check (the q39 DF-cap rule; a kept bucket has ≤ cap members, so the
    * heap holds exactly its member set).
    */
  val MaxBucket = 1000

  private[operators] def bucketPairs(
      bands: DataFrame,
      keyCols: Seq[String],
      idCol: String
  ): DataFrame =
    bands
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("nb"),
        graft.functions.Expressions.collect_topk(col(idCol), MaxBucket + 1).as("ids"))
      .filter(col("nb").between(2, MaxBucket))
      .select(array_sort(col("ids")).as("ids"))
      .select(explode(expr(pairExpansionSql("ids", "a AS doc_a, b AS doc_b"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  // --- C7 q26: SimHash + hamming bands → near-dup pairs --------------------
  // 64-bit simhash; 4 bands of 16 bits block candidates (hamming ≤ 3 ⇒ at
  // least one band identical); exact hamming filter afterwards.
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // map-side simhash: token-hash array per row (no explode/groupBy)
    val sims = docs(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), simhash64(expr("transform(toks, t -> xxhash64(t))")).as("sim"))
    val bandStructs = (0 until 4).map { bIdx =>
      struct(
        lit(bIdx).as("band"),
        (shiftrightunsigned(col("sim"), bIdx * 16).bitwiseAND(lit(0xffffL))).as("bh")
      )
    }
    // same one-pass bucket→pairs shape as minhash, carrying the simhash so
    // the exact hamming filter needs no extra join
    val bands = sims
      .select(col("doc_id"), col("sim"), explode(array(bandStructs: _*)).as("b"))
      .select(
        struct(col("doc_id").as("id"), col("sim").as("sim")).as("m"),
        col("b.band").as("band"),
        col("b.bh").as("bh")
      )
    bands
      .groupBy(col("band"), col("bh"))
      .agg(
        count(lit(1)).as("nb"),
        // bounded cap+1 heap + exact count (the bucketPairs rule): a viral
        // band bucket clamps at cap+1 rows of state, then its count drops it
        graft.functions.Expressions.collect_topk(col("m"), MaxBucket + 1).as("ms"))
      .filter(col("nb").between(2, MaxBucket))
      .select(expr("array_sort(ms, (x, y) -> int(sign(x.id - y.id)))").as("ms"))
      .select(
        explode(
          expr(
            pairExpansionSql(
              "ms",
              "a.id AS doc_a, b.id AS doc_b, bit_count(a.sim ^ b.sim) AS hamming"))
        ).as("p")
      )
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"), col("p.hamming").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --- C8 q27: exact n-gram Jaccard verification of LSH candidates ---------
  /** Threshold for a "verified near-dup": with 8 bands × 4 rows,
    * P(candidate | j) = 1-(1-j^4)^8 ≈ 0.9998 at j = 0.9, so LSH-then-verify
    * at this cut is (within ε) the exact all-pairs computation — which is
    * what the driver's DuckDB oracle computes.
    */
  val JaccardThreshold = 0.9

  /** Exact Jaccard over LSH candidates. The shingle stage feeds candidate
    * generation AND both verification join sides; at the production 0.9
    * cut both it and the verified pair list are session-shared
    * materializations ([[SharedStages]]) — the corpus is
    * tokenized+shingled ONCE per session and the LSH+verify pipeline runs
    * ONCE for q27/q33/q47/q52/q56/q87 combined. The shared blocks are
    * (doc_id, distinct shingle arrays) — linear in corpus size,
    * MEMORY_AND_DISK so executors spill rather than OOM at scale.
    */
  def ngramJaccard(
      spark: SparkSession,
      dir: String,
      minJaccard: Double = JaccardThreshold
  ): DataFrame =
    ngramJaccardPairs(spark, dir, minJaccard).orderBy(col("doc_a"), col("doc_b"))

  /** The LSH-candidates → exact-Jaccard verify join, parameterized by the
    * candidate and shingle inputs so the session-shared stages plug in.
    */
  private[operators] def verifyJaccard(
      cands: DataFrame,
      sh: DataFrame,
      minJaccard: Double
  ): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b")))
      )
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  // --- q119: containment verify (asymmetric Jaccard) ------------------------

  val ContainThreshold = 0.8

  /** Broder CONTAINMENT verify over the LSH candidate pairs: per pair,
    * `|A∩B|/|A|` and `|A∩B|/|B|` alongside symmetric Jaccard, keeping
    * pairs where either containment ≥ [[ContainThreshold]] — the
    * excerpt/quote relation (one doc substantially inside another) that
    * symmetric dedup MISSES when the container is long: a 100-line doc
    * quoted whole inside a 1000-line doc has j ≈ 0.1 but containment 1.0.
    * `excerpt_only` marks exactly those pairs (contained but below the
    * q27 dedup cut) — the curation queue for quote-chains and
    * mosaic-inclusion cases.
    *
    * Scale shape: rides the session-shared stages end to end (candidate
    * edges + shingle arrays — nothing rebuilt); two doc-keyed joins, the
    * set arithmetic is per-row codegen. Honest recall caveat (q84's): the
    * candidate generator is tuned for j ≥ 0.9, so low-j/high-containment
    * pairs surface only when banding catches them — a containment-first
    * campaign would band min-side signatures instead; the verify
    * arithmetic here is unchanged under that swap. Exactness: intersection
    * and sizes are integers over DISTINCT shingle arrays; the union is the
    * arithmetic `|A|+|B|−|A∩B|` in both engines; divisions are single
    * fixed-shape double ops, rounded at 4 dp.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = SharedStages.shingles(spark, dir)
    SharedStages
      .minhashEdges(spark, dir)
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("na", size(col("sh_a")))
      .withColumn("nb", size(col("sh_b")))
      .withColumn("c_ab", col("inter") / col("na"))
      .withColumn("c_ba", col("inter") / col("nb"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(greatest(col("c_ab"), col("c_ba")) >= ContainThreshold)
      .select(
        col("doc_a"),
        col("doc_b"),
        round(col("c_ab"), 4).as("contain_ab"),
        round(col("c_ba"), 4).as("contain_ba"),
        round(col("jaccard"), 4).as("jaccard"),
        (col("jaccard") < JaccardThreshold).as("excerpt_only"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q119 oracle: bit-exact LSH candidates + the same integer set sizes,
    * arithmetic union, and fixed division shapes.
    */
  lazy val containmentPairsSql: String =
    s"""WITH cand AS MATERIALIZED (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |$DuckShingleCte,
       |q119j AS (SELECT c.doc_a, c.doc_b,
       |    len(list_intersect(a.shingles, b.shingles)) AS inter,
       |    len(a.shingles) AS na, len(b.shingles) AS nb
       |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  round(inter::DOUBLE / na, 4) AS contain_ab,
       |  round(inter::DOUBLE / nb, 4) AS contain_ba,
       |  round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard,
       |  (inter::DOUBLE / (na + nb - inter) < $JaccardThreshold) AS excerpt_only
       |FROM q119j
       |WHERE greatest(inter::DOUBLE / na, inter::DOUBLE / nb) >= $ContainThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** [[ngramJaccard]] without the presentation sort — for consumers that
    * re-shuffle the pairs anyway (q33's victim join, q47's label
    * propagation, q52's verdict classification): a range exchange feeding a
    * hash exchange is pure waste. At the default threshold this IS the
    * shared verified-pair stage; a non-default cut builds fresh with
    * scope-tracked caching.
    */
  private[graft] def ngramJaccardPairs(
      spark: SparkSession,
      dir: String,
      minJaccard: Double = JaccardThreshold
  ): DataFrame =
    if (minJaccard == JaccardThreshold) SharedStages.jaccardPairs(spark, dir)
    else {
      val sh = graft.core.CacheScope.persist(shingledPlan(spark, dir))
      verifyJaccard(minhashLshFrom(sh), sh, minJaccard)
    }

  /** DuckDB oracle: exact ALL-PAIRS 3-gram Jaccard at the 0.9 cut — no LSH,
    * no hashing — so a hash-match proves the LSH path loses nothing at the
    * dedup threshold.
    *
    * The equivalence is probabilistic, not absolute — two honest caveats:
    * a pair at exactly j = 0.9 still has ~2e-4 chance of no band collision
    * (expected failures at the driver's sf0.01: ~0.005), and the Spark
    * path's [[MaxBucket]] cap drops ALL pairs of a degenerate >1000-member
    * bucket while the oracle has no cap. Neither fires on the shipped
    * corpora; a corpus with 1000+ mutual near-dups would need the cap
    * raised (or the cluster pre-collapsed by exact dedup) before this
    * oracle applies.
    */
  val ngramJaccardSql: String =
    s"""WITH $DuckShingleCte,
       |$DuckJaccardPairsCte
       |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
       |FROM pairs WHERE jaccard >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q84: LSH candidate-quality probe -------------------------------------

  val EvalSample = 200

  /** Dedup-recall health check: the production MinHash-LSH candidate set
    * (q25's, corpus-wide) evaluated against EXACT all-pairs Jaccard ground
    * truth on a bounded deterministic probe sample — per similarity
    * threshold, how many truly-similar pairs exist, how many the bands
    * caught, and the recall/precision of the candidate generator. This is
    * the number a curation team watches when retuning bands/rows: q25's
    * S-curve promises ≈1.0 recall at j ≥ 0.9 and fast decay below — this
    * operator measures the promise on live data.
    *
    * Scale shape: exact all-pairs is quadratic, so truth is computed ONLY
    * on a [[EvalSample]]-doc probe — picked by (xxhash64(doc_id), doc_id)
    * TakeOrdered, the ANN trainers' bounded-deterministic-sample rule, so
    * the probe is content-independent and stable across layouts. The
    * sample² pair table and its per-jaccard rollup are bounded by
    * construction; the threshold sweep theta-joins only that bounded
    * aggregate (q74's rule). The LSH pipeline itself runs once,
    * corpus-wide — it IS the system under test.
    */
  def lshQuality(spark: SparkSession, dir: String): DataFrame = {
    val sh = SharedStages.shingles(spark, dir)
    val sample = sh
      .withColumn("h", xxhash64(col("doc_id")))
      .orderBy(col("h"), col("doc_id"))
      .limit(EvalSample)
      .select(col("doc_id"), col("shingles"))
    val truth = sample
      .select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
      .join(
        broadcast(sample.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))),
        col("doc_a") < col("doc_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val cands = SharedStages.minhashEdges(spark, dir).withColumn("in_cand", lit(true))
    // bounded: ≤ sample²/2 pairs → ≤ that many distinct jaccard values
    val byJac = graft.core.CacheScope.persist(
      truth
        .join(cands, Seq("doc_a", "doc_b"), "left")
        .groupBy(col("jaccard"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("in_cand"), 1L).otherwise(0L)).as("nc")))
    val nCand = byJac.agg(sum(col("nc")).as("n_cand"))
    val th = spark.range(5).select((expr("array(0.5D, 0.6D, 0.7D, 0.8D, 0.9D)")(col("id"))).as("threshold"))
    th.join(broadcast(byJac), col("jaccard") >= col("threshold"), "left")
      .groupBy(col("threshold"))
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n_truth"),
        coalesce(sum(col("nc")), lit(0L)).as("n_caught"))
      .crossJoin(broadcast(nCand))
      .select(
        col("threshold"),
        col("n_truth"),
        col("n_caught"),
        col("n_cand"),
        when(col("n_truth") > 0, col("n_caught").cast("double") / col("n_truth").cast("double"))
          .as("recall"),
        when(col("n_cand") > 0, col("n_caught").cast("double") / col("n_cand").cast("double"))
          .as("precision"))
      .orderBy(col("threshold"))
  }

  /** Oracle: the q25 emulation as the candidate set (already hash-verified
    * standalone), the probe sample re-derived with the emulated
    * xxhash64-on-BIGINT ordering, exact all-pairs truth on the sample, the
    * same bounded per-jaccard rollup and threshold theta-join.
    */
  lazy val lshQualitySql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q84sh" ->
        s"""(SELECT doc_id,
           |    list_distinct(list_transform(generate_series(1, len(toks)-2),
           |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
           |  FROM (SELECT doc_id, $DuckToks AS toks FROM documents)
           |  WHERE len(toks) >= 3)""".stripMargin,
      "q84h0" -> "(SELECT doc_id, doc_id::HUGEINT AS l FROM q84sh)"
    )
    val ch = new SqlChain("q84h", "q84h0", Seq("doc_id", "l"))
    hashLongLevels(ch, s"${toUnsigned("l")}", "42", "h")
    ctes ++= ch.ctes
    ctes += ("q84smp" ->
      s"""(SELECT s.doc_id, s.shingles FROM q84sh s JOIN ${ch.last} x ON x.doc_id = s.doc_id
         |  ORDER BY ${toSigned("x.h")}, s.doc_id LIMIT $EvalSample)""".stripMargin)
    ctes += ("q84tr" ->
      """(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.shingles, b.shingles))::DOUBLE
        |      / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
        |  FROM q84smp a JOIN q84smp b ON a.doc_id < b.doc_id)""".stripMargin)
    ctes += ("q84cd" -> s"(SELECT doc_a, doc_b, true AS in_cand FROM ($minhashLshSql))")
    ctes += ("q84bj" ->
      """(SELECT jaccard, count(*) AS n,
        |    CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM q84tr LEFT JOIN q84cd USING (doc_a, doc_b) GROUP BY jaccard)""".stripMargin)
    ctes += ("q84nc" -> "(SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_cand FROM q84bj)")
    assemble(
      ctes.toSeq,
      """SELECT threshold,
        |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_truth,
        |  CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_caught,
        |  n_cand,
        |  CASE WHEN coalesce(sum(n), 0) > 0
        |       THEN CAST(coalesce(sum(nc), 0) AS DOUBLE) / CAST(sum(n) AS DOUBLE) END AS recall,
        |  CASE WHEN n_cand > 0
        |       THEN CAST(coalesce(sum(nc), 0) AS DOUBLE) / n_cand::DOUBLE END AS precision
        |FROM (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS threshold)
        |LEFT JOIN q84bj ON jaccard >= threshold
        |CROSS JOIN q84nc
        |GROUP BY threshold, n_cand
        |ORDER BY threshold""".stripMargin
    )
  }

  // --- q96: edit-distance verification of LSH candidates --------------------

  /** Tiered near-dup verification: for every MinHash-LSH candidate pair
    * (q25's generator, shared verbatim), the EXACT character-level
    * Levenshtein distance and its normalized similarity
    * `1 − d / max(len_a, len_b)` — the expensive-but-exact final verify a
    * fuzzy-dedup pipeline runs only on candidates, never the corpus.
    *
    * Scale shape: the O(len²)-per-pair DP runs strictly AFTER candidate
    * pruning, so its cost is bounded by the LSH candidate count (linear in
    * true dups, q25's cap rules) — the tiered-verify pattern. The
    * candidate set is the session-shared [[SharedStages.minhashEdges]]
    * stage (r4's 4.1 s was dominated by re-deriving it); two doc-keyed
    * joins fetch the texts; `levenshtein` is Spark's codegen'd builtin
    * and the DP runs ONCE per pair (`lev` and `sim` both read the same
    * projected distance — a naive twin expression would double the only
    * quadratic term in the query). A length-difference gate would be free
    * here but cannot fire without changing values: the output is every
    * candidate pair WITH its exact distance, so any row the gate could
    * skip is a row the operator must still emit — the DP cost is already
    * output-bounded. Distances are integers and both engines implement
    * the classic unit-cost DP, so the oracle is exact.
    */
  def editVerify(spark: SparkSession, dir: String): DataFrame = {
    val cands = SharedStages.minhashEdges(spark, dir)
    cands
      .join(docs(spark, dir).select(col("doc_id").as("doc_a"), col("text").as("txt_a")), "doc_a")
      .join(docs(spark, dir).select(col("doc_id").as("doc_b"), col("text").as("txt_b")), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        levenshtein(col("txt_a"), col("txt_b")).cast("long").as("lev"),
        greatest(length(col("txt_a")), length(col("txt_b"))).cast("double").as("mx"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("lev"),
        round(lit(1.0) - col("lev").cast("double") / col("mx"), 6).as("sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q96 oracle: the bit-exact LSH candidate emulation + DuckDB's own
    * levenshtein, identical normalization.
    */
  lazy val editVerifySql: String =
    s"""WITH q96c AS (SELECT doc_a, doc_b FROM ($minhashLshSql))
       |SELECT c.doc_a, c.doc_b,
       |  levenshtein(a.text, b.text)::BIGINT AS lev,
       |  round(1.0 - levenshtein(a.text, b.text)::DOUBLE
       |    / greatest(length(a.text), length(b.text)), 6) AS sim
       |FROM q96c c
       |JOIN documents a ON a.doc_id = c.doc_a
       |JOIN documents b ON b.doc_id = c.doc_b
       |ORDER BY c.doc_a, c.doc_b""".stripMargin

  // --- q95: exact set-similarity join via prefix filtering ------------------

  /** Shingle-set Jaccard threshold for the prefix-filtered similarity join
    * — q25/q27's similarity space, so q95 is their EXACT counterpart.
    */
  val PrefixJoinThreshold = 0.5

  /** Exact set-similarity self-join (prefix filtering, the PPJoin family —
    * Chaudhuri et al. 2006 / Xiao et al. 2008): all pairs with 3-token
    * SHINGLE-set Jaccard ≥ t, with NO probabilistic recall loss — the
    * deterministic counterpart of the q25→q27 MinHash pipeline in the
    * same similarity space (shingles, not unigram tokens: a shared small
    * vocabulary makes unigram sets near-identical corpus-wide, while
    * shingle sets stay discriminative).
    *
    * Candidate generation is the prefix theorem: sort every doc's shingle
    * set by one global (df asc, shingle asc) order; if J(x,y) ≥ t the
    * first `|x| − ⌈t·|x|⌉ + 1` shingles of x and y must share an element.
    * So docs only meet through an equi-join on their PREFIX shingles —
    * which the rare-first order makes low-frequency by construction (the
    * skew mitigation: a shingle appears in prefixes far less often than
    * in docs). A symmetric length filter (`t·max(n_a,n_b) ≤ min(n_a,n_b)`)
    * prunes size-incompatible pairs in the join itself.
    *
    * Scale shape: every shingle is hashed to its xxhash64 long IN-ROW
    * first (the q51/q54 8-byte-key rule: the df agg, per-doc sort, prefix
    * join and verify intersections all move longs, not ~25-byte strings —
    * ~3× less exchange volume); then (doc, hash) df agg + doc-keyed array
    * rebuild (two keyed shuffles), prefix explode of ~(1−t)·n hashes per
    * doc, one hash-keyed equi-join carrying only (doc_id, n), pair
    * distinct, then the q27 verify shape (two doc-keyed array joins).
    * Worst case is all-dups, where candidates = true output —
    * output-bounded, never corpus².
    *
    * Exactness: sizes and intersections are integers over the hashed sets;
    * the oracle re-derives the identical hashes via the DuckHash xxhash64
    * emulation, so this stays hard-verified (and a green hash also PROVES
    * the prefix filter lossless at this corpus — the oracle is the
    * brute-force all-pairs truth, deliberately prefix-free).
    */
  def prefixJoin(
      spark: SparkSession,
      dir: String,
      minJaccard: Double = PrefixJoinThreshold
  ): DataFrame = {
    // default-threshold pairs are the session-shared stage (q95 + q132's
    // cost curve both consume them — the q27/jaccardPairs rule)
    val pairs =
      if (minJaccard == PrefixJoinThreshold) SharedStages.exactPairs(spark, dir)
      else prefixJoinPlan(spark, dir, minJaccard)
    pairs.orderBy(col("doc_a"), col("doc_b"))
  }

  /** The raw q95 pipeline (unsorted) — materialized once per session via
    * [[SharedStages.exactPairs]] at the default threshold.
    */
  private[graft] def prefixJoinPlan(
      spark: SparkSession,
      dir: String,
      minJaccard: Double
  ): DataFrame = {
    val dt = SharedStages.shingles(spark, dir)
      .select(col("doc_id"), explode(expr("array_distinct(transform(shingles, s -> xxhash64(s)))")).as("tok"))
    val dfreq = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // scope-cached: read by the prefix self-join (twice) and both verify
    // joins — the q27 shared-stage rule, one derivation not four
    val arr = graft.core.CacheScope.persist(
      dt.join(dfreq, "tok")
        .groupBy(col("doc_id"))
        .agg(
          expr("transform(sort_array(collect_list(struct(df, tok))), s -> s.tok)").as("ts"),
          count(lit(1)).as("n")))
    // ⌈0.5·n⌉ = (n + 1) div 2 — exact integer math (the q80 rule)
    // r15: the prefix explode carries each prefix token's 1-based POSITION
    // so the join can apply the PPJoin positional filter (Xiao et al.
    // 2008): for a pair with |x∩y| = o and a common token at positions
    // (i, j), o ≤ min(i−1, j−1) + 1 + min(n_a−i, n_b−j) — tokens before
    // the match can overlap at most min(i−1, j−1) ways and tokens after at
    // most min of the remaining suffix lengths. J(x,y) ≥ t needs
    // o ≥ t/(1+t)·(n_a+n_b), so any join row whose positional bound falls
    // short cannot belong to a qualifying pair and is dropped BEFORE the
    // pair distinct (guide §3: cut candidate volume ahead of the verify
    // join). Lossless: the bound is valid for EVERY common prefix token of
    // a true pair, so no qualifying pair loses all its join rows; the 1e-9
    // slack keeps a float boundary from ever cutting an exact-integer
    // qualifying overlap.
    val pref = arr
      .withColumn("plen", col("n") - expr("(n + 1) div 2") + lit(1L))
      .select(col("doc_id"), col("n"),
        posexplode(expr("slice(ts, 1, CAST(plen AS INT))")).as(Seq("p0", "ptok")))
    val overlapBound =
      least(col("p_a"), col("p_b")) +
        least(col("n_a") - col("p_a") - lit(1L), col("n_b") - col("p_b") - lit(1L)) + lit(1L)
    val cands = pref.select(
        col("ptok"), col("doc_id").as("doc_a"), col("n").as("n_a"), col("p0").cast("long").as("p_a"))
      .join(
        pref.select(
          col("ptok"), col("doc_id").as("doc_b"), col("n").as("n_b"),
          col("p0").cast("long").as("p_b")),
        "ptok")
      .filter(col("doc_a") < col("doc_b") &&
        greatest(col("n_a"), col("n_b")) * lit(minJaccard) <= least(col("n_a"), col("n_b")) &&
        overlapBound.cast("double") + lit(1e-9) >=
          lit(minJaccard / (1.0 + minJaccard)) * (col("n_a") + col("n_b")).cast("double"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cands
      .join(arr.select(col("doc_id").as("doc_a"), col("ts").as("t_a"), col("n").as("n_a")), "doc_a")
      .join(arr.select(col("doc_id").as("doc_b"), col("ts").as("t_b"), col("n").as("n_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("t_a"), col("t_b"))).cast("long"))
      .withColumn("jacc",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jacc") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_inter"),
        round(col("jacc"), 6).as("jaccard"))
  }

  /** q95 oracle: brute-force all-pairs Jaccard over the SAME hashed
    * shingle sets (emulated xxhash64 over distinct shingle strings) —
    * deliberately prefix-free, so the hash check proves the filter
    * lossless.
    */
  lazy val prefixJoinSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q95sh" ->
        s"""(SELECT doc_id,
           |    list_distinct(list_transform(generate_series(1, len(toks)-2),
           |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
           |  WHERE len(toks) >= 3)""".stripMargin,
      "q95i" -> "(SELECT doc_id, unnest(shingles) AS s FROM q95sh)",
      "q95b" -> s"(SELECT s, ${bytesOf("s")} AS b FROM (SELECT DISTINCT s FROM q95i))"
    )
    val hb = hashBytesChain("q95hx", "q95b", Seq("s"), "42", "hb")
    ctes ++= hb.ctes
    ctes += ("q95d" ->
      s"""(SELECT t.doc_id, list(DISTINCT ${toSigned("d.hb")}) AS hs
         |  FROM q95i t JOIN ${hb.last} d ON d.s = t.s GROUP BY t.doc_id)""".stripMargin)
    ctes += ("q95p" ->
      """(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(a.hs)::BIGINT AS n_a, len(b.hs)::BIGINT AS n_b,
        |    len(list_intersect(a.hs, b.hs))::BIGINT AS n_inter
        |  FROM q95d a JOIN q95d b ON a.doc_id < b.doc_id)""".stripMargin)
    assemble(
      ctes.toSeq,
      s"""SELECT doc_a, doc_b, n_a, n_b, n_inter,
         |  round(n_inter::DOUBLE / (n_a + n_b - n_inter), 6) AS jaccard
         |FROM q95p
         |WHERE n_inter::DOUBLE / (n_a + n_b - n_inter) >= $PrefixJoinThreshold
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  // --- q93: text normalization pass ---------------------------------------

  /** Corpus text normalization — the first pass of every real ingest
    * pipeline: Unicode NFC composition, control-char→space replacement,
    * space-run collapse + trim, with repair telemetry per document
    * (control count, whether NFC changed anything, byte lengths before and
    * after, md5 of the cleaned text).
    *
    * Scale shape: ONE codegen'd map-side pass
    * ([[graft.functions.Expressions.NormalizeText]]) + the output sort —
    * no shuffle touches the corpus. Lengths are `octet_length` (UTF-8
    * bytes) on both engines; char-count semantics differ between engines
    * (code points vs graphemes) and are deliberately avoided.
    */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val nt = graft.functions.Expressions.normalize_text(col("text"))
    docs(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("len_raw"), nt.as("nt"))
      .select(
        col("doc_id"),
        col("len_raw"),
        col("nt.n_ctrl").as("n_ctrl"),
        col("nt.changed_nfc").as("changed_nfc"),
        octet_length(col("nt.clean")).cast("long").as("len_clean"),
        md5(col("nt.clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q93 oracle: `nfc_normalize` + the identical two regex steps (controls
    * first, so the collapse only sees ASCII space runs — see the
    * NormalizeText scaladoc for why the order is load-bearing).
    */
  lazy val normalizeTextSql: String =
    raw"""WITH q93n AS (
         |  SELECT doc_id, text, nfc_normalize(text) AS nfc FROM documents),
         |q93s AS (
         |  SELECT doc_id, text, nfc,
         |    trim(regexp_replace(regexp_replace(nfc, '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS clean,
         |    len(regexp_extract_all(nfc, '[\x00-\x1f\x7f]'))::BIGINT AS n_ctrl
         |  FROM q93n)
         |SELECT doc_id,
         |  strlen(text)::BIGINT AS len_raw,
         |  n_ctrl,
         |  (nfc <> text) AS changed_nfc,
         |  strlen(clean)::BIGINT AS len_clean,
         |  md5(clean) AS clean_md5
         |FROM q93s
         |ORDER BY doc_id""".stripMargin

  // --- q163: LSH parameter planner -------------------------------------------

  /** (bands, rows) configurations sharing the 32-permutation signature
    * budget `b·r = 32` — the whole design space one signature admits.
    */
  val LshConfigs: Seq[(Int, Int)] = Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))

  /** Repeated-squaring power chain for power-of-two exponents — the SAME
    * multiplication tree in both engines, so the S-curve floats match
    * bitwise (no `pow`, whose libm differs across engines).
    */
  private def powChainSql(x: String, n: Int): String =
    if (n == 1) s"($x)" else { val h = powChainSql(x, n / 2); s"($h * $h)" }

  /** The LSH tuning table q25's banding hard-codes one row of: for every
    * (b, r) with b·r = 32, the S-curve `P(candidate|J) = 1 − (1 − J^r)^b`
    * evaluated at the fixed probes J ∈ {0.5, 0.7, 0.9} (computed
    * in-engine by the shared power chain from the same short literals —
    * a printed 17-digit constant can land one ulp apart across the two
    * engines' literal paths; the chain cannot), PLUS
    * the corpus-weighted consequences over the EXACT pair-similarity
    * table (the session-shared q95 stage at its 0.5 floor): expected
    * recall over true ≥ 0.9 pairs and the expected number of
    * sub-threshold (0.5 ≤ J < 0.9) pairs the banding would surface as
    * candidates — the recall-vs-verify-cost frontier that justifies (or
    * indicts) the (8, 4) choice BEFORE a 100 TB dedup run commits to it.
    * q84 audits the one deployed config empirically; q163 prices every
    * config the signature budget admits. Pairs below the 0.5 floor are
    * outside the table (their S-curve mass is negligible at r ≥ 2;
    * documented, not silently dropped).
    *
    * Scale shape: rides the pinned exact-pair stage (dup-rate-bounded);
    * per-pair probabilities are map-side multiplication chains quantized
    * to integer micro-units BEFORE summing (order-free exact sums — the
    * q72 rule), 6 config rows total. Determinism: identical power
    * chains, shared literals, integer sums, fixed divide-round shapes.
    */
  def lshPlanner(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedStages.exactPairs(spark, dir).select(col("jaccard"))
    val probes = Seq("0.5", "0.7", "0.9")
    // probe columns evaluate the SAME power chain in-engine from the same
    // short literals — a Scala-printed 17-digit constant can land one ulp
    // apart across the two engines' literal paths; the chain cannot
    val rows = LshConfigs.map { case (b, r) =>
      val curve = probes.map(j =>
        s"1.0D - ${powChainSql(s"1.0D - ${powChainSql(s"CAST($j AS DOUBLE)", r)}", b)}")
      val pExpr = s"1.0D - ${powChainSql(s"1.0D - ${powChainSql("jaccard", r)}", b)}"
      (b, r, curve, pExpr)
    }
    val legs = rows.map { case (b, r, curve, pExpr) =>
      pairs
        .select(
          expr(s"CAST(round(($pExpr) * 1000000, 0) AS BIGINT)").as("pq"),
          (col("jaccard") >= lit(JaccardThreshold)).as("is_true"))
        .groupBy()
        .agg(
          sum(when(col("is_true"), col("pq"))).as("s_true"),
          sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
          sum(when(!col("is_true"), col("pq"))).as("s_sub"),
          sum(when(!col("is_true"), 1L).otherwise(0L)).as("n_sub"))
        .select(
          lit(b).as("bands"),
          lit(r).as("rows_per_band"),
          expr(curve(0)).as("p_at_05"),
          expr(curve(1)).as("p_at_07"),
          expr(curve(2)).as("p_at_09"),
          round(col("s_true").cast("double") / (col("n_true") * lit(1000000L)).cast("double"), 6)
            .as("exp_recall_true"),
          col("n_true"),
          round(col("s_sub").cast("double") / lit(1000000.0), 2).as("exp_sub_cands"),
          col("n_sub"))
    }
    legs
      .reduce(_ unionByName _)
      .orderBy(col("bands").desc)
  }

  /** q163 oracle: the brute-force exact-pair chain + the IDENTICAL power
    * chains, shared literals, and quantized integer sums.
    */
  lazy val lshPlannerSql: String = {
    val probes = Seq("0.5", "0.7", "0.9")
    val legs = LshConfigs.map { case (b, r) =>
      val curve = probes.map(j =>
        s"1.0 - ${powChainSql(s"1.0 - ${powChainSql(s"CAST($j AS DOUBLE)", r)}", b)}")
      val pExpr = s"1.0 - ${powChainSql(s"1.0 - ${powChainSql("jaccard", r)}", b)}"
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  (${curve(0)}) AS p_at_05,
         |  (${curve(1)}) AS p_at_07,
         |  (${curve(2)}) AS p_at_09,
         |  round(CAST(sum(CASE WHEN jaccard >= $JaccardThreshold THEN pq END) AS DOUBLE)
         |    / (CAST(sum(CASE WHEN jaccard >= $JaccardThreshold THEN 1 ELSE 0 END) AS BIGINT)
         |       * 1000000)::DOUBLE, 6) AS exp_recall_true,
         |  CAST(sum(CASE WHEN jaccard >= $JaccardThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  round(CAST(sum(CASE WHEN jaccard < $JaccardThreshold THEN pq END) AS DOUBLE)
         |    / 1000000.0, 2) AS exp_sub_cands,
         |  CAST(sum(CASE WHEN jaccard < $JaccardThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_sub
         |FROM (SELECT jaccard,
         |    CAST(round(($pExpr) * 1000000, 0) AS BIGINT) AS pq FROM q163p)""".stripMargin
    }
    s"""WITH q163p AS MATERIALIZED (SELECT jaccard FROM ($prefixJoinSql))
       |SELECT * FROM (${legs.map(l => s"($l)").mkString(" UNION ALL ")})
       |ORDER BY bands DESC""".stripMargin
  }

  // --- q183: LSH bucket balance / cap-loss audit -------------------------------

  /** Bucket-balance and cap-loss audit of the deployed MinHash-LSH index
    * (q25's band buckets): per band (+ the `_ALL` rollup, band = −1) the
    * bucket count, the largest bucket, how many buckets exceed the
    * [[MaxBucket]] pair-expansion cap, the candidate-pair slots the kept
    * buckets generate (ΣC(n,2), n ≤ cap — the verify join's actual input
    * workload, multi-band duplicates included), the slots the cap DROPS
    * (ΣC(n,2) over capped buckets), and the dropped share. This is the
    * "no silent caps" principle applied to q25 itself: the cap that keeps
    * a template-flooded corpus from going quadratic also costs recall,
    * and this table is the number that says how much — read it beside
    * q84's empirical recall and q163's analytic S-curve before trusting
    * a 100 TB dedup's config. A hot bucket here is also the task-skew
    * early warning q150 gives for joins.
    *
    * Scale shape: ONE aggregate over the session-shared signature stage
    * to the bucket grain (persisted); band rollups + the `_ALL` fold
    * ride that bounded table. Determinism: pure integer counts and
    * C(n,2) arithmetic (`DIV 2` exact — n(n−1) is even), one
    * divide-round for the share.
    */
  def bucketBalance(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashSigsFrom(SharedStages.shingles(spark, dir))
      .select(col("doc_id"), explode(bandArray).as("b"))
      .select(col("b.band").cast("long").as("band"), col("b.bh").as("bh"))
    val buckets = graft.core.CacheScope.persist(
      bands.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("n")))
    def rollup(df: DataFrame, key: Column) = df
      .groupBy(key.as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(when(col("n") > MaxBucket, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("n").between(2, MaxBucket), expr("n * (n - 1) DIV 2"))
          .otherwise(0L)).as("pairs_kept"),
        sum(when(col("n") > MaxBucket, expr("n * (n - 1) DIV 2"))
          .otherwise(0L)).as("pairs_dropped"))
    rollup(buckets, col("band"))
      .unionByName(rollup(buckets, lit(-1L)))
      .select(
        col("band"),
        col("n_buckets"),
        col("max_bucket"),
        col("n_capped"),
        col("pairs_kept"),
        col("pairs_dropped"),
        when(col("pairs_kept") + col("pairs_dropped") > 0,
          round(col("pairs_dropped").cast("double") /
            (col("pairs_kept") + col("pairs_dropped")).cast("double"), 6))
          .as("drop_share"))
      .orderBy(col("band"))
  }

  /** q183 oracle: the factored q25 signature/bucket chain + identical
    * integer C(n,2) rollups.
    */
  lazy val bucketBalanceSql: String = {
    import graft.functions.DuckHash._
    val ctes = minhashPipelineCtes()
    ctes += ("q183n" -> "(SELECT band, bh, count(*)::BIGINT AS n FROM q25bl GROUP BY 1, 2)")
    def leg(key: String) =
      s"""SELECT $key AS band, count(*)::BIGINT AS n_buckets,
         |  CAST(max(n) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN n > $MaxBucket THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
         |  CAST(sum(CASE WHEN n BETWEEN 2 AND $MaxBucket THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT) AS pairs_kept,
         |  CAST(sum(CASE WHEN n > $MaxBucket THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT) AS pairs_dropped
         |FROM q183n ${if (key == "band") "GROUP BY band" else ""}""".stripMargin
    assemble(
      ctes.toSeq,
      s"""SELECT band, n_buckets, max_bucket, n_capped, pairs_kept, pairs_dropped,
         |  CASE WHEN pairs_kept + pairs_dropped > 0 THEN
         |    round(pairs_dropped::DOUBLE / (pairs_kept + pairs_dropped)::DOUBLE, 6)
         |  END AS drop_share
         |FROM ((${leg("band")}) UNION ALL (${leg("-1::BIGINT")}))
         |ORDER BY band""".stripMargin)
  }

  // --- q177: dedup method-agreement audit -------------------------------------

  /** Pairwise agreement between the three near-dup candidate generators —
    * MinHash-LSH bands (q25), SimHash hamming buckets (q26), and the
    * exact-Jaccard-verified set (q27): per method pair, both set sizes,
    * the intersection, each side's exclusive pairs, and the set-level
    * Jaccard. This is the audit that decides WHICH detector a 100 TB
    * dedup actually runs: high LSH↔verified agreement says the bands are
    * tight enough to skip the verify join; a large simhash-only tail says
    * the two families see different duplicate classes (bag-of-shingles vs
    * weighted-bit similarity) and dropping either loses recall — q84
    * scores one method against truth, q132 prices the sweep, q177
    * measures whether the methods are substitutes or complements.
    *
    * Scale shape: all three pair feeds are the session-shared /
    * bucket-bounded stages (never corpus²); each agreement row is one
    * full-outer join of two bounded pair tables + a 1-row fold.
    * Determinism: pure set counts, one guarded divide-round.
    */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    val lsh  = minhashCandidatePairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val sim  = simhashPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val ngram = ngramJaccardPairs(spark, dir, JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    def agree(na: String, da: DataFrame, nb: String, db: DataFrame): DataFrame =
      da.select(col("doc_a"), col("doc_b"), lit(1L).as("ia"))
        .join(
          db.select(col("doc_a"), col("doc_b"), lit(1L).as("ib")),
          Seq("doc_a", "doc_b"),
          "full_outer")
        .groupBy()
        .agg(
          coalesce(sum(col("ia")), lit(0L)).as("n_a"),
          coalesce(sum(col("ib")), lit(0L)).as("n_b"),
          coalesce(sum(col("ia") * col("ib")), lit(0L)).as("n_both"))
        .select(
          lit(na).as("method_a"),
          lit(nb).as("method_b"),
          col("n_a"),
          col("n_b"),
          col("n_both"),
          (col("n_a") - col("n_both")).as("n_only_a"),
          (col("n_b") - col("n_both")).as("n_only_b"),
          when(col("n_a") + col("n_b") - col("n_both") > 0,
            round(col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6))
            .as("set_jaccard"))
    agree("minhash_lsh", lsh, "ngram_jaccard", ngram)
      .unionByName(agree("minhash_lsh", lsh, "simhash", sim))
      .unionByName(agree("simhash", sim, "ngram_jaccard", ngram))
      .orderBy(col("method_a"), col("method_b"))
  }

  /** Oracle: the three engine-exact pair statements embedded verbatim,
    * counted with the same set algebra.
    */
  lazy val dedupAgreementSql: String = {
    def leg(na: String, ca: String, nb: String, cb: String): String =
      s"""SELECT '$na' AS method_a, '$nb' AS method_b, n_a, n_b, n_both,
         |  n_a - n_both AS n_only_a, n_b - n_both AS n_only_b,
         |  CASE WHEN n_a + n_b - n_both > 0 THEN
         |    round(n_both::DOUBLE / (n_a + n_b - n_both)::DOUBLE, 6) END AS set_jaccard
         |FROM (SELECT
         |  (SELECT count(*) FROM $ca)::BIGINT AS n_a,
         |  (SELECT count(*) FROM $cb)::BIGINT AS n_b,
         |  (SELECT count(*) FROM $ca JOIN $cb USING (doc_a, doc_b))::BIGINT AS n_both)""".stripMargin
    s"""WITH q177a AS MATERIALIZED (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |q177b AS MATERIALIZED (SELECT doc_a, doc_b FROM ($simhashSql)),
       |q177c AS MATERIALIZED (SELECT doc_a, doc_b FROM ($ngramJaccardSql))
       |SELECT * FROM (
       |  (${leg("minhash_lsh", "q177a", "ngram_jaccard", "q177c")})
       |  UNION ALL (${leg("minhash_lsh", "q177a", "simhash", "q177b")})
       |  UNION ALL (${leg("simhash", "q177b", "ngram_jaccard", "q177c")}))
       |ORDER BY method_a, method_b""".stripMargin
  }

  // --- q190: idf-weighted Jaccard audit --------------------------------------

  /** Idf-weighted Jaccard re-verification of the LSH candidate pairs:
    * plain Jaccard counts a boilerplate shingle ("click here to read")
    * exactly like a content shingle, so template-heavy corpora verify
    * pairs as near-dups that share only furniture — the classic dedup
    * false positive q140 hunts at the hub level. This audit re-scores
    * every candidate pair with each shingle weighted by its smoothed
    * idf `ln((N+1)/(df+1))` and reports both scores plus verdict-flip
    * flags at the shared [[JaccardThreshold]] — the table that decides
    * whether the corpus needs weighted verification before the dedup
    * campaign commits.
    *
    * Scale shape: df is ONE map-side-combinable aggregate over the
    * shared shingle stage; N broadcasts; the pair re-score melts each
    * candidate pair onto its two members and equi-joins the exploded
    * shingles — every grain is candidate-pair-bounded (never corpus²).
    * Float determinism: idf is quantized to integer MICRO-idf
    * (`round(idf·10⁶)` as BIGINT) before any aggregation, so the
    * weighted sums are exact integers in both engines and the only
    * float steps are one rounded ln per distinct shingle (the q73/q82
    * one-rounded-ln rule) and the final one-division + round.
    */
  def idfJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh       = SharedStages.shingles(spark, dir)
    val pairs    = SharedStages.minhashEdges(spark, dir)
    val exploded = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
    val weights = graft.core.CacheScope.persist(
      exploded
        .groupBy(col("g"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(sh.agg(count(lit(1)).as("nd"))))
        .select(col("g"),
          expr("CAST(round(ln((nd + 1) / (df + 1.0)) * 1e6, 0) AS BIGINT)").as("w")))
    val members = pairs
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(exploded, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"), col("g"))
      .agg(count(lit(1)).as("cnt"))
    val j  = round(col("n_inter").cast("double") / col("n_union").cast("double"), 4)
    val wj = when(col("wu") > 0L,
      round(col("wi").cast("double") / col("wu").cast("double"), 4))
    members
      .join(weights, "g")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        count(lit(1)).as("n_union"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("n_inter"),
        sum(col("w")).as("wu"),
        sum(when(col("cnt") === 2L, col("w")).otherwise(0L)).as("wi"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_union"),
        j.as("jaccard"),
        wj.as("w_jaccard"),
        (j >= lit(JaccardThreshold)).as("is_dup"),
        coalesce(wj >= lit(JaccardThreshold), lit(false)).as("is_dup_w"),
        ((j >= lit(JaccardThreshold)) =!=
          coalesce(wj >= lit(JaccardThreshold), lit(false))).as("flip"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q190 oracle: q25's emulated candidate set, the same shingle
    * explode/df/micro-idf quantization, the same melt-join-aggregate
    * pair grain, and identical verdict/flip shapes.
    */
  lazy val idfJaccardSql: String = {
    val t = JaccardThreshold
    s"""WITH cand AS MATERIALIZED (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |$DuckShingleCte,
       |q190e AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS g FROM sh),
       |q190n AS (SELECT count(*)::BIGINT AS nd FROM sh),
       |q190w AS MATERIALIZED (
       |  SELECT g, CAST(round(ln((nd + 1) / (count(*) + 1.0)) * 1e6, 0) AS BIGINT) AS w
       |  FROM q190e, q190n GROUP BY g, nd),
       |q190m AS (
       |  SELECT doc_a, doc_b, g, count(*) AS cnt
       |  FROM (SELECT doc_a, doc_b, doc_a AS doc_id FROM cand
       |        UNION ALL SELECT doc_a, doc_b, doc_b FROM cand) pm
       |  JOIN q190e USING (doc_id)
       |  GROUP BY doc_a, doc_b, g),
       |q190p AS (
       |  SELECT doc_a, doc_b,
       |    count(*)::BIGINT AS n_union,
       |    round(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 4) AS j,
       |    CASE WHEN sum(w) > 0 THEN
       |      round(sum(CASE WHEN cnt = 2 THEN w ELSE 0 END)::DOUBLE / sum(w)::DOUBLE, 4)
       |    END AS wj
       |  FROM q190m JOIN q190w USING (g)
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b, n_union, j AS jaccard, wj AS w_jaccard,
       |  j >= $t AS is_dup,
       |  coalesce(wj >= $t, false) AS is_dup_w,
       |  (j >= $t) <> coalesce(wj >= $t, false) AS flip
       |FROM q190p
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
