package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Corpus-curation operators that close the loop from pairwise evidence to
  * corpus-level decisions: duplicate clustering (q47), PII/blocklist
  * scrubbing (q48), BM25 retrieval (q49), training-sequence packing (q50),
  * and n-gram-coverage dedup (q51). Like [[TrainingOps]], every operator is
  * shaped for a 1000-executor corpus first and oracled against DuckDB at
  * test scale.
  */
object CurationOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  // --- q47: duplicate clusters via connected components --------------------

  /** Connected components over the verified near-dup pair graph (q27's
    * pairs at the 0.9 Jaccard cut): every doc in a component is labeled
    * with the component's minimum doc_id. This is the step pairwise dedup
    * output actually needs — dropping one side of each PAIR under-deletes
    * triangles and chains (a~b, b~c leaves {a, c} both kept even when a~c
    * was just below threshold), while one-keeper-per-component is the
    * exact "keep one representative" semantics.
    *
    * Implementation is the large-star/small-star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): alternate
    *   large-star — per node u, point every LARGER neighbor at
    *     m = min(N(u) ∪ {u});
    *   small-star — per node u, point every not-larger neighbor and u
    *     itself at m = min(N≤(u) ∪ {u});
    * until the edge set is stable, at which point every component is a
    * star rooted at its minimum id. Each half-round is one keyed window
    * (partition by node, min over neighbors) plus a distinct — keyed
    * shuffles on ids only, no driver-side graph. `localCheckpoint` after
    * each round truncates the lineage so round N doesn't recompute rounds
    * 1..N-1, and the edge list itself is checkpointed once so the
    * (expensive) LSH+verify pipeline runs exactly once, not once per
    * iteration.
    *
    * Rounds needed = O(log n) on ANY graph shape — dense near-dup cliques
    * converge in 1-2 rounds, and an adversarial chain of 64 nodes in ~4
    * (spec-pinned), where plain min-label propagation would need
    * diameter = 63.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    // Labels come from the session-shared star contraction over the
    // verified pair graph — built once, reused by q56/q87 and any other
    // cluster consumer in the same session.
    val labels = SharedStages.dupLabels(spark, dir)
    val wCl = Window.partitionBy(col("cluster_id"))
    labels
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(wCl))
      .orderBy(col("doc_id"))
  }

  /** Large-star/small-star contraction to connected-component labels.
    * Input: undirected edges (src, dst), either orientation, no self-loops
    * required. Output: (labels DataFrame (node, lbl = component min id),
    * rounds executed). Every node incident to an edge gets a label.
    *
    * Both half-rounds keep edges in the canonical larger→smaller
    * orientation, so `m < src` holds everywhere and self-loops vanish by
    * construction. Convergence is detected STRUCTURALLY: a canonical edge
    * set is a union of rooted stars exactly when no `dst` also appears as
    * a `src` (every edge already points at a root), and rooted stars are
    * provably the fixpoint of both half-rounds — so one tiny semi-join
    * per round replaces a count + except AND the final no-op
    * "verification round" a fixpoint comparison would need.
    */
  private[graft] def starContract(edges: DataFrame): (DataFrame, Int) = {
    def isStars(e: DataFrame): Boolean =
      e.select(col("dst"))
        .join(e.select(col("src")), col("dst") === col("src"), "left_semi")
        .isEmpty
    var cur = edges
      .select(greatest(col("src"), col("dst")).as("src"), least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var rounds = 0
    while (!isStars(cur)) {
      cur = smallStarRound(largeStarRound(cur)).localCheckpoint()
      rounds += 1
    }
    val labels = cur
      .select(col("src").as("node"), col("dst").as("lbl"))
      .union(cur.select(col("dst").as("node"), col("dst").as("lbl")))
      .groupBy(col("node"))
      .agg(min(col("lbl")).as("lbl"))
    (labels, rounds)
  }

  /** One large-star half-round: symmetrize, then per node u point every
    * strictly larger neighbor at min(N(u) ∪ {u}). One hash shuffle (the
    * per-node window min) + the output distinct.
    */
  private[graft] def largeStarRound(canonical: DataFrame): DataFrame = {
    val sym = canonical
      .union(canonical.select(col("dst").as("src"), col("src").as("dst")))
    val w = Window.partitionBy(col("src"))
    sym
      .withColumn("m", least(min(col("dst")).over(w), col("src")))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** One small-star half-round: per node u (over its not-larger neighbors,
    * which is all of them in canonical orientation) point each neighbor
    * and u itself at the minimum. Same window+distinct shape as
    * [[largeStarRound]].
    */
  private[graft] def smallStarRound(canonical: DataFrame): DataFrame = {
    val w     = Window.partitionBy(col("src"))
    val withM = canonical.withColumn("m", min(col("dst")).over(w))
    withM
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(withM.select(col("src"), col("m").as("dst")))
      .distinct()
  }

  /** DuckDB oracle: transitive closure of the same edge set via a recursive
    * CTE (`reach` = every node's reachable set), cluster = min reachable
    * id. Shares the exact-all-pairs Jaccard CTEs with q27's oracle, so the
    * edge sets are the ones the driver already hash-verified.
    */
  val dupClustersSql: String =
    s"""WITH RECURSIVE ${TextOps.DuckShingleCte},
       |${TextOps.DuckJaccardPairsCte},
       |e AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= ${TextOps.JaccardThreshold}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM e
       |          UNION ALL SELECT doc_b, doc_a FROM e),
       |reach(node, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT w.node, e2.dst FROM reach w JOIN edges e2 ON w.r = e2.src
       |),
       |lab AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node)
       |SELECT node AS doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM lab
       |ORDER BY doc_id""".stripMargin

  // --- q56: cluster representative selection -------------------------------

  /** Keep-best-per-cluster: q47 turns pairwise near-dup evidence into
    * components; this picks each component's REPRESENTATIVE by content
    * quality (most tokens, ties to the lower doc_id) instead of the
    * arbitrary min-id rule — the difference between "drop duplicates" and
    * "keep the best copy", which is what a curation pass actually ships.
    * One keyed join (cluster membership × per-doc token counts) and a
    * per-cluster argmax window; cluster cardinality is bounded by the
    * near-dup graph, never the corpus.
    */
  def clusterBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val toksLen = docs(spark, dir)
      .select(col("doc_id"), size(TextOps.toks).cast("long").as("n_tok"))
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("n_tok").desc, col("doc_id"))
    clusters
      .join(toksLen, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(
        col("cluster_id"),
        col("doc_id").as("keep_id"),
        col("n_tok").as("keep_tokens"),
        col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  /** Oracle: q47's closure statement as a subquery, argmax by the same
    * (token count desc, doc_id) rule.
    */
  lazy val clusterBestSql: String =
    s"""SELECT cluster_id, doc_id AS keep_id, n_tok AS keep_tokens, cluster_size
       |FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
       |    ORDER BY n_tok DESC, doc_id) AS rk
       |  FROM (
       |    SELECT c.cluster_id, c.doc_id, c.cluster_size,
       |      len(${TextOps.DuckToks})::BIGINT AS n_tok
       |    FROM ($dupClustersSql) c JOIN documents ON documents.doc_id = c.doc_id))
       |WHERE rk = 1
       |ORDER BY cluster_id""".stripMargin

  // --- q78: full fuzzy-dedup manifest (LSH edges → components → keep/drop) -

  /** The artifact a fuzzy-dedup pass actually ships: EVERY document labeled
    * with its component and a keep/drop verdict, in one table. q47 labels
    * only the docs incident to a verified (Jaccard ≥ 0.9) edge; here the
    * edge set is q25's recall-oriented MinHash-LSH candidates — the
    * production trade (trust the banding, skip the O(|pairs|·len) verify
    * scan) — and docs with no candidate at all come through as singleton
    * keepers, so the output is a total function of the corpus: filter
    * `is_keeper` and you HAVE the deduped corpus.
    *
    * Scale shape: the LSH pipeline runs exactly once (`localCheckpoint`
    * before iteration, q47's rule); star contraction is O(log n) rounds of
    * keyed shuffles on ids only; the final left join + cluster window
    * shuffle on doc_id/cluster_id with group sizes bounded by the dup
    * graph, never the corpus. Nothing here is all-pairs and nothing
    * collects to the driver.
    */
  def fuzzyClusters(spark: SparkSession, dir: String): DataFrame = {
    // Session-shared contraction over the CANDIDATE edge graph.
    val labels = SharedStages.fuzzyLabels(spark, dir)
    val wCl = Window.partitionBy(col("cluster_id"))
    docs(spark, dir)
      .select(col("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("lbl").as("cl")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cl"), col("doc_id")))
      .withColumn("cluster_size", count(lit(1)).over(wCl))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(wCl))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: q25's bit-exact LSH emulation as the edge set (the driver
    * already hash-verifies it standalone), transitive closure via the q47
    * recursive CTE, then a left join back onto `documents` so singletons
    * surface with cluster_id = their own id.
    */
  lazy val fuzzyClustersSql: String =
    s"""WITH RECURSIVE cand AS MATERIALIZED (SELECT doc_a, doc_b FROM (${TextOps.minhashLshSql})),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
       |          UNION ALL SELECT doc_b, doc_a FROM cand),
       |reach(node, r) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT w.node, e2.dst FROM reach w JOIN edges e2 ON w.r = e2.src
       |),
       |lab AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
       |total AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |          FROM documents d LEFT JOIN lab l ON l.node = d.doc_id)
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  (doc_id = min(doc_id) OVER (PARTITION BY cluster_id)) AS is_keeper
       |FROM total
       |ORDER BY doc_id""".stripMargin

  // --- q48: PII / blocklist scrubbing --------------------------------------

  /** Pattern set: the standard PII trio plus a configurable term blocklist.
    * Patterns are written in the RE2 ∩ java.util.regex common dialect
    * (`\b`, `\d`, `(?:…)`, bounded reps — all ASCII-equivalent in both), so
    * the Spark side and the DuckDB oracle compile the SAME strings.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Terms treated as sensitive: the classic credential nouns. `key` and
    * `hash` occur in the synthetic corpus, so the driver oracle exercises
    * real (non-zero) redactions; the PII regexes are exercised by the
    * ScalaTest fixture, which plants emails/IPs/phones.
    */
  val Blockterms = Seq("secret", "password", "token", "key", "hash")
  val BlockRe: String = s"\\b(?:${Blockterms.mkString("|")})\\b"

  /** Defense-in-depth residue pass: any digit run of ≥ 7 chars (with
    * dots/dashes) that survived the category passes. Sequential per-category
    * replacement can leave partial matches behind when categories overlap —
    * e.g. in `1.2.3.444.555.6666` the IP pass consumes `1.2.3.444`, after
    * which the phone `444.555.6666` (counted on the ORIGINAL text) no
    * longer matches — so a final catch-all keeps overlap residue out of the
    * scrubbed output. Not a counted category: the counts are per-pattern
    * detector signals on the original text.
    */
  val ResidualRe = "\\d[\\d.-]{5,}\\d"

  private val ScrubOrder = Seq(
    EmailRe    -> "<EMAIL>",
    Ipv4Re     -> "<IP>",
    PhoneRe    -> "<PHONE>",
    BlockRe    -> "<TERM>",
    ResidualRe -> "<NUM>"
  )

  /** Redaction over any (doc_id, text) frame: per-category match counts on
    * the ORIGINAL text plus an md5 of the scrubbed text — a full content
    * check in a fixed-width row (the driver compare stays cheap even when
    * documents are megabytes). Purely map-side: regex match + replace are
    * per-row, no shuffle except the final presentation sort; at 100 TB this
    * is a pass-through transform that fuses into whatever scan feeds it.
    */
  /** The scrub transform at Column level, so batch (q48) and the streaming
    * ingest gate (E9) share one definition.
    */
  private[graft] def scrubCol(c: Column): Column =
    ScrubOrder.foldLeft(c) { case (acc, (re, repl)) => regexp_replace(acc, re, repl) }

  /** Total PII + blockterm match count at Column level (fixed reduce order). */
  private[graft] def piiCountCol(c: Column): Column =
    Seq(EmailRe, Ipv4Re, PhoneRe, BlockRe)
      .map(re => regexp_count(c, lit(re)).cast("long"))
      .reduce(_ + _)

  def scrub(df: DataFrame): DataFrame = {
    val scrubbed = scrubCol(col("text"))
    df.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"),
      regexp_count(col("text"), lit(BlockRe)).cast("long").as("n_block"),
      md5(scrubbed).as("scrub_md5")
    ).orderBy(col("doc_id"))
  }

  def scrubPii(spark: SparkSession, dir: String): DataFrame =
    scrub(docs(spark, dir))

  /** DuckDB oracle: identical pattern strings; `regexp_replace(…, 'g')`
    * because DuckDB replaces only the first match by default (Spark always
    * replaces all).
    */
  /** DuckDB twin of [[scrubCol]] applied to the `text` column — shared by
    * the q48 and q98 oracles so the emulated redaction cannot drift.
    */
  private[graft] lazy val duckScrubExpr: String =
    ScrubOrder.foldLeft("text") { case (c, (re, repl)) =>
      s"regexp_replace($c, '$re', '$repl', 'g')"
    }

  val scrubPiiSql: String = {
    val scrubbed = duckScrubExpr
    def cnt(re: String) = s"len(regexp_extract_all(text, '$re'))"
    s"""SELECT doc_id,
       |  ${cnt(EmailRe)} AS n_email,
       |  ${cnt(Ipv4Re)} AS n_ip,
       |  ${cnt(PhoneRe)} AS n_phone,
       |  ${cnt(BlockRe)} AS n_block,
       |  md5($scrubbed) AS scrub_md5
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // --- q49: BM25 ranked retrieval ------------------------------------------

  val BmK1     = 1.2
  val BmB      = 0.75
  val BmQuery  = Seq("data", "hash", "window")
  val BmTopK   = 20

  /** BM25 top-k over the corpus for a fixed conjunctive-OR query. The plan
    * is the scale shape ranked retrieval wants on Spark: per-doc term
    * frequencies and lengths are map-side array ops; the corpus statistics
    * (N, Σdl, per-term df) collapse to ONE aggregate row that broadcasts
    * back over the scored scan; the top-k is TakeOrdered (per-partition
    * heaps + driver merge), never a global sort materialization. Two jobs,
    * one pass each over the corpus, no keyed shuffle at all.
    *
    * Float determinism: the score expression is mirrored token-for-token in
    * the oracle (same literals via Scala's shortest-round-trip printing,
    * same association order), and the final score is rounded to 6 decimals
    * because Java's `Math.log` and DuckDB's `ln` differ by 1 ulp on ~1% of
    * inputs (measured) — everything before the log is exact IEEE arithmetic.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Of(docs(spark, dir))

  private[graft] def bm25Of(corpus: DataFrame): DataFrame = {
    val base = corpus
      .select(col("doc_id"), TextOps.toks.as("toks"))
      .withColumn("dl", size(col("toks")))
    val withTf = BmQuery.zipWithIndex
      .foldLeft(base) { case (df, (t, i)) =>
        df.withColumn(s"tf$i", size(expr(s"filter(toks, x -> x = '$t')")))
      }
      .drop("toks")

    val statAggs =
      Seq(count(lit(1)).cast("double").as("n_docs"), sum(col("dl")).cast("double").as("sum_dl")) ++
        BmQuery.indices.map(i => sum((col(s"tf$i") > 0).cast("long")).cast("double").as(s"df$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)

    val avgdl = col("sum_dl") / col("n_docs")
    val score = BmQuery.indices
      .map { i =>
        val tf  = col(s"tf$i").cast("double")
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
        idf * (tf * lit(BmK1 + 1)) /
          (tf + lit(BmK1) * (lit(1 - BmB) + lit(BmB) * col("dl") / avgdl))
      }
      .reduce(_ + _)

    withTf
      .crossJoin(broadcast(stats))
      .filter(BmQuery.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .select(col("doc_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(BmTopK)
  }

  /** Oracle: same statistics, same expression tree. Literals are embedded
    * via [[java.lang.Double.toString]] (shortest round-trip), so e.g.
    * `k1+1` parses back to the identical double in DuckDB.
    */
  val bm25Sql: String = {
    val k1p1 = java.lang.Double.toString(BmK1 + 1)
    val k1   = java.lang.Double.toString(BmK1)
    val omb  = java.lang.Double.toString(1 - BmB)
    val b    = java.lang.Double.toString(BmB)
    val tfCols = BmQuery.zipWithIndex
      .map { case (t, i) => s"len(list_filter(toks, x -> x = '$t')) AS tf$i" }
      .mkString(",\n    ")
    val dfAggs = BmQuery.indices
      .map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::DOUBLE AS df$i")
      .mkString(", ")
    val terms = BmQuery.indices
      .map { i =>
        s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * (tf$i * $k1p1) / " +
          s"(tf$i + $k1 * ($omb + $b * dl / (sum_dl / n_docs)))"
      }
      .mkString(" + ")
    val anyTf = BmQuery.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""WITH tf AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfCols
       |  FROM (SELECT doc_id, ${TextOps.DuckToks} AS toks FROM documents)),
       |st AS (
       |  SELECT count(*)::DOUBLE AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl, $dfAggs
       |  FROM tf)
       |SELECT doc_id, round($terms, 6) AS score
       |FROM tf, st
       |WHERE $anyTf
       |ORDER BY score DESC, doc_id
       |LIMIT $BmTopK""".stripMargin
  }

  // --- q50: training-sequence packing --------------------------------------

  val PackSeqLen = 512
  val PackShards = 8

  /** Concat-and-chunk sequence packing: docs are laid out in a
    * deterministic order and cut into fixed [[PackSeqLen]]-token training
    * sequences; each doc learns which sequence its tokens start and end in
    * and its offset within the first one. This is the layout step between a
    * cleaned corpus and a token-consuming trainer.
    *
    * A single global running sum would serialize onto one task, so the
    * corpus is first split into [[PackShards]] content-stable shards
    * (`pmod(xxhash64(doc_id))` — same assignment on any cluster, any
    * partitioning) and packed per shard: the cumulative sum is a window
    * over (shard, doc_id), i.e. [[PackShards]]-way parallel. In production
    * the shard count scales with the cluster; each shard emits an
    * independent sequence namespace exactly as independent data-loader
    * workers would consume it. Integer arithmetic throughout — the oracle
    * is exact, not rounded.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select(col("doc_id"), size(TextOps.toks).cast("long").as("n_tok"))
      .withColumn("shard", pmod(xxhash64(col("doc_id")), lit(PackShards)).cast("int"))
      .withColumn("tok_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(
        col("doc_id"),
        col("shard"),
        col("n_tok"),
        expr(s"tok_before DIV $PackSeqLen").as("begin_seq"),
        expr(s"(tok_before + n_tok - 1) DIV $PackSeqLen").as("end_seq"),
        (col("tok_before") % PackSeqLen).as("offset_in_seq")
      )
      .orderBy(col("doc_id"))
  }

  /** Oracle: shard via the emulated xxhash64 ([[graft.functions.DuckHash]],
    * q40's pattern), then the same windowed cumulative sum.
    */
  lazy val packSequencesSql: String = {
    import graft.functions.DuckHash._
    val ctes = ArrayBuffer[(String, String)](
      "q50in" ->
        s"(SELECT doc_id, len(${TextOps.DuckToks})::BIGINT AS n_tok, doc_id::HUGEINT AS l FROM documents)"
    )
    val ch = new SqlChain("q50h", "q50in", Seq("doc_id", "n_tok", "l"))
    hashLongLevels(ch, s"${toUnsigned("l")}", "42", "h")
    ctes ++= ch.ctes
    ctes += ("q50s" ->
      s"""(SELECT doc_id, n_tok,
         |    (((${toSigned("h")} % $PackShards) + $PackShards) % $PackShards)::INTEGER AS shard
         |  FROM ${ch.last})""".stripMargin)
    ctes += ("q50c" ->
      s"""(SELECT doc_id, shard, n_tok,
         |    COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_before
         |  FROM q50s)""".stripMargin)
    assemble(
      ctes.toSeq,
      s"""SELECT doc_id, shard, n_tok,
         |  tok_before // $PackSeqLen AS begin_seq,
         |  (tok_before + n_tok - 1) // $PackSeqLen AS end_seq,
         |  tok_before % $PackSeqLen AS offset_in_seq
         |FROM q50c
         |ORDER BY doc_id""".stripMargin
    )
  }

  // --- q80: overlapping token-window chunking ------------------------------

  val ChunkLen    = 64
  val ChunkStride = 48

  /** RAG/pretraining chunker: every document split into [[ChunkLen]]-token
    * windows advancing by [[ChunkStride]] (16-token overlap, the standard
    * context-preserving recipe), each chunk given a stable (doc_id,
    * chunk_idx) identity and a content hash for chunk-level exact dedup
    * downstream. Start offsets are `0, S, 2S, …, ⌈max(n−C,0)/S⌉·S` — the
    * last window is the first one that reaches the end of the document, so
    * every token is covered, the final chunk may run short, no chunk is
    * fully contained in its predecessor, and a doc no longer than one
    * window yields exactly one chunk. The `max(…, 0)` keeps the ceiling
    * arithmetic non-negative — load-bearing for the oracle, because Spark's
    * `div` truncates toward zero while DuckDB's `//` floors, and they only
    * agree on non-negatives.
    *
    * Scale shape: one projection + one explode, zero shuffles before the
    * presentation sort; the per-row expansion factor is n/S. The token
    * array is built once per row and sliced per chunk (columnar reuse, no
    * re-tokenization per chunk).
    */
  private[graft] val chunkCols: Seq[Column] = {
    val (c, s) = (ChunkLen, ChunkStride)
    Seq(
      expr(s"cast(start div $s AS INT)").as("chunk_idx"),
      size(expr(s"slice(toks, start + 1, $c)")).as("n_tok"),
      md5(concat_ws(" ", expr(s"slice(toks, start + 1, $c)"))).as("chunk_hash"))
  }

  /** Chunk a (…, toks) frame; every non-`toks` column passes through, so
    * the E17 stream twin keeps its event time with the SAME expression.
    */
  private[graft] def chunked(withToks: DataFrame): DataFrame = {
    val keep = withToks.columns.filterNot(_ == "toks").map(col(_))
    withToks
      .withColumn(
        "start",
        explode(expr(
          s"sequence(0, ((greatest(size(toks) - $ChunkLen, 0) + $ChunkStride - 1) div $ChunkStride) * $ChunkStride, $ChunkStride)")))
      .select(keep ++ chunkCols: _*)
  }

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunked(docs(spark, dir).select(col("doc_id"), TextOps.toks.as("toks")))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Oracle: same start-offset rule via `generate_series`, same 1-based
    * inclusive slice semantics (`toks[a : a+C−1]` ≡ Spark's
    * `slice(toks, a, C)` — both truncate at the end), md5 hex agrees
    * across engines.
    */
  lazy val docChunksSql: String = {
    val (c, s) = (ChunkLen, ChunkStride)
    s"""WITH q80t AS (SELECT doc_id, ${TextOps.DuckToks} AS toks FROM documents),
       |q80c AS (SELECT doc_id, toks,
       |           unnest(generate_series(0, ((greatest(len(toks) - $c, 0) + $s - 1) // $s) * $s, $s)) AS start
       |         FROM q80t)
       |SELECT doc_id, (start // $s)::INTEGER AS chunk_idx,
       |  len(toks[start + 1 : start + $c])::INTEGER AS n_tok,
       |  md5(array_to_string(toks[start + 1 : start + $c], ' ')) AS chunk_hash
       |FROM q80c
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // --- q81: chunk-granular dedup (sequence-level, Lee et al.) --------------

  /** Sequence-level dedup at q80's chunk granularity: every chunk hash is
    * owned by its lexicographically first (doc_id, chunk_idx) occurrence;
    * later occurrences are dropped, and each document reports how much of
    * it survives — the "dedup the training data, not the documents" pass
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"), which removes repeated boilerplate spans from otherwise
    * unique documents instead of keeping or killing docs whole.
    *
    * Scale shape: the owner is a groupBy MIN over a struct — an aggregate
    * with map-side combine, NOT a window over the hash partition (q51's
    * rule: one viral boilerplate chunk shared by millions of docs must
    * collapse per-partition, not pile onto one task). Shuffles on
    * chunk_hash and doc_id only; the division is one exact-integer ratio.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunked(docs(spark, dir).select(col("doc_id"), TextOps.toks.as("toks")))
    // r14.2: the ownership argmin rides a PACKED DECIMAL key
    // (doc_id · 2³¹ + chunk_idx — lexicographic (doc_id, chunk_idx)
    // exactly, both non-negative and chunk_idx < 2³¹ by its Int type;
    // injective, so the kept test is one decimal equality). A struct min
    // has a struct aggregation buffer, which HashAggregateExec cannot
    // hold — the old plan silently SortAggregated, sorting every
    // partition of the suite's chunk grain by chunk_hash before the
    // partial agg. min(decimal) hash-aggregates (PlanGuardSpec pins it).
    val packedOwn =
      expr("CAST(doc_id AS DECIMAL(19,0)) * CAST(2147483648 AS DECIMAL(10,0)) + chunk_idx")
    val owner = chunks
      .groupBy(col("chunk_hash"))
      .agg(min(packedOwn).as("own"))
    chunks
      .join(owner, "chunk_hash")
      .withColumn("kept", col("own") === packedOwn)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok").cast("long")).as("n_tok"),
        sum(when(col("kept"), col("n_tok").cast("long")).otherwise(0L)).as("n_tok_kept"))
      .withColumn(
        "kept_frac",
        col("n_tok_kept").cast("double") / col("n_tok").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: q80's chunk CTE verbatim, ownership as `row_number() = 1`
    * over (hash | doc_id, chunk_idx) — semantically the lexicographic-min
    * struct — and HUGEINT sums pinned back to BIGINT.
    */
  lazy val chunkDedupSql: String = {
    val (c, s) = (ChunkLen, ChunkStride)
    s"""WITH q81t AS (SELECT doc_id, ${TextOps.DuckToks} AS toks FROM documents),
       |q81x AS (SELECT doc_id, toks,
       |           unnest(generate_series(0, ((greatest(len(toks) - $c, 0) + $s - 1) // $s) * $s, $s)) AS start
       |         FROM q81t),
       |q81c AS (SELECT doc_id, (start // $s)::INTEGER AS chunk_idx,
       |           len(toks[start + 1 : start + $c]) AS n_tok,
       |           md5(array_to_string(toks[start + 1 : start + $c], ' ')) AS chunk_hash
       |         FROM q81x),
       |q81r AS (SELECT doc_id, chunk_idx, n_tok,
       |           (row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) = 1) AS kept
       |         FROM q81c)
       |SELECT doc_id,
       |  count(*)::BIGINT AS n_chunks,
       |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
       |  CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS n_tok_kept,
       |  CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(n_tok) AS DOUBLE) AS kept_frac
       |FROM q81r GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --- q118: k-core of the near-dup candidate graph --------------------------

  val CoreK      = 2
  val CoreRounds = 8

  /** Fixed-round [[CoreK]]-core peeling of the MinHash candidate graph —
    * the density complement of q47's components and q104's triangles: a
    * node in the 2-core lies on a CYCLE of near-dup relations (mutually
    * corroborated duplication — genuine clone communities), while
    * tree-like chains peel away (one-hop LSH coincidences and mosaic
    * links that component labeling happily glues together). The
    * (in_core, degree) pair per incident doc is the standard "is this
    * cluster dense or stringy" triage before trusting cluster-level
    * actions like q56's keep-best.
    *
    * Contract: the operator is defined as the survivor set after exactly
    * [[CoreRounds]] peels (degree < [[CoreK]] nodes removed each round) —
    * well-defined on any graph, and ≥ the true k-core always; on
    * dup-rate-bounded graphs whose components are small, peeling
    * converges long before 8 rounds, so survivors ARE the k-core.
    *
    * Scale shape: the edge list is the session-shared checkpointed stage
    * (bounded by corpus dup rate, never corpus²); each round is one
    * keyed degree aggregate (map-side combine) + two semi joins, each
    * round checkpointed so the loop's lineage stays flat — q47's
    * iterative-contraction discipline.
    */
  def kcoreDups(spark: SparkSession, dir: String): DataFrame = {
    val cand = SharedStages
      .minhashEdges(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id")))
      .distinct()
    var e = cand
    for (_ <- 1 to CoreRounds) {
      val keep = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= CoreK)
        .select(col("node"))
      val keep2 = keep.select(col("node").as("node2"))
      e = graft.core.CacheScope.checkpoint(
        e.join(keep, col("a") === col("node"), "left_semi")
          .join(keep2, col("b") === col("node2"), "left_semi"))
    }
    val fin = e.select(col("a").as("doc_id")).union(e.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
    nodes
      .join(fin, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("nd").isNotNull.as("in_core"),
        coalesce(col("nd"), lit(0L)).as("degree"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the bit-exact LSH edge emulation + the same [[CoreRounds]]
    * peels unrolled as CTEs (degree filter via IN-subqueries — the exact
    * semi-join semantics), integer counts only.
    */
  lazy val kcoreDupsSql: String = {
    // every e$r is MATERIALIZED: each round references its predecessor
    // three times (two degree legs + the edge filter), so inlining would
    // blow up 3^rounds
    val rounds = (1 to CoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, count(*) AS n FROM
         |  (SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) GROUP BY node),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE n >= $CoreK),
         |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH cand AS MATERIALIZED (SELECT doc_a, doc_b FROM (${TextOps.minhashLshSql})),
       |e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand),
       |$rounds,
       |q118n AS (SELECT DISTINCT node AS doc_id FROM
       |  (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)),
       |q118f AS (SELECT node AS doc_id, count(*) AS nd FROM
       |  (SELECT a AS node FROM e$CoreRounds UNION ALL SELECT b FROM e$CoreRounds) GROUP BY node)
       |SELECT n.doc_id, (f.doc_id IS NOT NULL) AS in_core,
       |  coalesce(f.nd, 0)::BIGINT AS degree
       |FROM q118n n LEFT JOIN q118f f USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin
  }

  // --- q122: Adamic-Adar link prediction over the candidate graph ------------

  val AaTopK = 50

  /** Adamic-Adar link analysis over the MinHash candidate graph: every
    * pair (u, v) sharing ≥1 common neighbor scores
    * `AA(u,v) = Σ_w 1/ln(deg(w))` over common neighbors w, flagged
    * `is_edge` by whether LSH already proposed the pair directly. The
    * `is_edge = false` slice is the classic "which near-dup links did LSH
    * miss?" screen (two documents sharing duplication partners that never
    * landed in one band — q85's recall frontier localized to actionable
    * pairs); the `is_edge = true` slice ranks existing candidates by triad
    * corroboration. Rare common neighbors (low degree) count more than
    * promiscuous template hubs — exactly the weighting a template-flooded
    * corpus needs.
    *
    * Scale shape: wedges enumerate per common NEIGHBOR (one equi-join of
    * the symmetrized edge list with itself, keyed on the shared node), so
    * cost is Σ_w deg(w)² — bounded by the dup-rate-bounded degree
    * distribution, never corpus²; adjacency is one left join against the
    * edge list; the degree table joins once. Determinism: per-term
    * `round(1/ln(deg), 6)` (q73's round-the-log discipline),
    * ascending-by-neighbor fold (SURVEY §4), final round to 6 dp; the
    * top-[[AaTopK]] ties break on the unique (doc_a, doc_b).
    */
  def adamicAdar(spark: SparkSession, dir: String): DataFrame = {
    val e = SharedStages
      .minhashEdges(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val s = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = s.groupBy(col("a").as("w")).agg(count(lit(1)).as("deg"))
    val sd  = s.select(col("a").as("w"), col("b").as("n"))
    val adj = e.select(col("a").as("u"), col("b").as("v"), lit(true).as("adj"))
    sd.as("s1")
      .join(sd.as("s2"), col("s1.w") === col("s2.w") && col("s1.n") < col("s2.n"))
      .select(col("s1.w").as("w"), col("s1.n").as("u"), col("s2.n").as("v"))
      .join(deg, "w")
      .select(col("u"), col("v"), col("w"),
        round(lit(1.0) / log(col("deg").cast("double")), 6).as("term"))
      .groupBy(col("u"), col("v"))
      .agg(
        count(lit(1)).as("n_common"),
        expr(
          "round(aggregate(array_sort(collect_list(struct(w, term))), 0D, (acc, x) -> acc + x.term), 6)")
          .as("aa_score"))
      .join(adj, Seq("u", "v"), "left")
      .select(
        col("u").as("doc_a"),
        col("v").as("doc_b"),
        col("n_common"),
        col("aa_score"),
        coalesce(col("adj"), lit(false)).as("is_edge"))
      .orderBy(col("aa_score").desc, col("doc_a"), col("doc_b"))
      .limit(AaTopK)
  }

  /** Oracle: bit-exact LSH edges + the same wedge join, per-term rounded
    * `1/ln(deg)`, and the ascending-by-neighbor `list_reduce` fold.
    */
  lazy val adamicAdarSql: String =
    s"""WITH q122e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM (${TextOps.minhashLshSql})),
       |q122s AS MATERIALIZED (SELECT a, b FROM q122e UNION ALL SELECT b, a FROM q122e),
       |q122d AS (SELECT a AS w, count(*)::BIGINT AS deg FROM q122s GROUP BY a),
       |q122w AS (
       |  SELECT s1.a AS w, s1.b AS u, s2.b AS v
       |  FROM q122s s1 JOIN q122s s2 ON s1.a = s2.a AND s1.b < s2.b),
       |q122t AS (
       |  SELECT w.u, w.v, w.w, round(1.0/ln(d.deg::DOUBLE), 6) AS term
       |  FROM q122w w JOIN q122d d USING (w)),
       |q122g AS (
       |  SELECT u, v, count(*)::BIGINT AS n_common,
       |    round(list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY w)),
       |      (x, y) -> x + y), 6) AS aa_score
       |  FROM q122t GROUP BY u, v)
       |SELECT g.u AS doc_a, g.v AS doc_b, g.n_common, g.aa_score,
       |  (e.a IS NOT NULL) AS is_edge
       |FROM q122g g LEFT JOIN q122e e ON e.a = g.u AND e.b = g.v
       |ORDER BY g.aa_score DESC, doc_a, doc_b LIMIT $AaTopK""".stripMargin

  // --- q166: HITS hubs/authorities over the dup-provenance digraph -----------

  val HitsRounds = 5

  /** HITS over the DIRECTED dup-provenance graph: every LSH candidate
    * pair is oriented later-doc → earlier-doc (the "copy cites its
    * original" convention — doc ids are ingest-ordered, so the earlier
    * side is the presumptive original). Authorities are then the
    * originals that many independent later copies point at (template
    * masters, canonical sources); hubs are late documents drawing from
    * MANY high-authority originals (mashups / aggregator pages). q97's
    * PageRank scores undirected centrality — who sits centrally in a
    * dup neighborhood; q166's directed mutual reinforcement separates
    * the SOURCE side of duplication from the DERIVATIVE side, which is
    * exactly the split a keep-the-original dedup policy (q56) wants
    * corroborated before it trusts min-id as "original".
    *
    * Scale shape: the edge list is the session-shared checkpointed
    * MinHash candidate stage (bounded by the corpus dup rate, never
    * corpus²); each of the [[HitsRounds]] rounds is two node-keyed
    * join+aggregates on that edge table plus a 1-row max broadcast —
    * q47's iterative discipline, every half-round checkpointed so the
    * loop's lineage stays flat and nothing is recomputed across rounds.
    *
    * Exactness: scores are max-normalized (not sum-normalized) each
    * half-round and rounded to 6 dp BEFORE the next half-round reads
    * them (the q97 round-before-reuse rule) — which makes every
    * contribution an EXACT multiple of 10⁻⁶ in [0,1], so each
    * half-round's neighbor sum is a lossless order-free long sum of
    * c·10⁶ (the q72/q163 rule): per-node state is one long, never a
    * neighbor array (template hubs make degree unbounded), with
    * overflow headroom to ~9·10¹² in-neighbors.
    */
  def hitsScores(spark: SparkSession, dir: String): DataFrame = {
    import graft.core.CacheScope
    val edges = SharedStages
      .minhashEdges(spark, dir)
      .select(col("doc_b").as("src"), col("doc_a").as("dst"))
    var h = edges.select(col("src").as("node")).distinct().withColumn("h", lit(1.0))
    var a: DataFrame = null
    for (_ <- 1 to HitsRounds) {
      val ar = CacheScope.checkpoint(
        edges
          .join(h, edges("src") === h("node"))
          .select(col("dst"), col("src"), col("h").as("c"))
          .groupBy(col("dst"))
          .agg(sum(expr("CAST(round(c * 1000000, 0) AS BIGINT)")).as("s")))
      val amax = ar.groupBy().agg(max(col("s")).as("m"))
      a = ar
        .crossJoin(broadcast(amax))
        .select(col("dst").as("node"),
          round(col("s").cast("double") / col("m").cast("double"), 6).as("a"))
      val hr = CacheScope.checkpoint(
        edges
          .join(a, edges("dst") === a("node"))
          .select(col("src"), col("dst"), col("a").as("c"))
          .groupBy(col("src"))
          .agg(sum(expr("CAST(round(c * 1000000, 0) AS BIGINT)")).as("s")))
      val hmax = hr.groupBy().agg(max(col("s")).as("m"))
      h = hr
        .crossJoin(broadcast(hmax))
        .select(col("src").as("node"),
          round(col("s").cast("double") / col("m").cast("double"), 6).as("h"))
    }
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
      .select(col("src").as("node"), col("out_deg"))
    val inDeg = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
      .select(col("dst").as("node"), col("in_deg"))
    nodes
      .join(h, Seq("node"), "left")
      .join(a, Seq("node"), "left")
      .join(outDeg, Seq("node"), "left")
      .join(inDeg, Seq("node"), "left")
      .select(
        col("node").as("doc_id"),
        coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("authority"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("authority").desc, col("hub").desc, col("doc_id"))
  }

  /** Oracle: the bit-exact LSH edge emulation oriented doc_b → doc_a +
    * the same [[HitsRounds]] unrolled half-rounds — identical lossless
    * c·10⁶ integer sums, max-normalize, round 6 dp before reuse.
    */
  lazy val hitsScoresSql: String = {
    val rounds = (1 to HitsRounds).map { r =>
      s"""q166ar$r AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    sum(CAST(round(h.h * 1000000, 0) AS BIGINT)) AS s
         |  FROM q166e e JOIN q166h${r - 1} h ON h.node = e.src GROUP BY e.dst),
         |q166a$r AS MATERIALIZED (
         |  SELECT node, round(s::DOUBLE / (SELECT max(s) FROM q166ar$r)::DOUBLE, 6) AS a
         |  FROM q166ar$r),
         |q166hr$r AS MATERIALIZED (
         |  SELECT e.src AS node,
         |    sum(CAST(round(a.a * 1000000, 0) AS BIGINT)) AS s
         |  FROM q166e e JOIN q166a$r a ON a.node = e.dst GROUP BY e.src),
         |q166h$r AS MATERIALIZED (
         |  SELECT node, round(s::DOUBLE / (SELECT max(s) FROM q166hr$r)::DOUBLE, 6) AS h
         |  FROM q166hr$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH q166cand AS MATERIALIZED (SELECT doc_a, doc_b FROM (${TextOps.minhashLshSql})),
       |q166e AS MATERIALIZED (SELECT doc_b AS src, doc_a AS dst FROM q166cand),
       |q166h0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0::DOUBLE AS h FROM q166e),
       |$rounds,
       |q166n AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM q166e UNION ALL SELECT dst FROM q166e)),
       |q166od AS (SELECT src AS node, count(*)::BIGINT AS out_deg FROM q166e GROUP BY src),
       |q166id AS (SELECT dst AS node, count(*)::BIGINT AS in_deg FROM q166e GROUP BY dst)
       |SELECT n.node AS doc_id,
       |  coalesce(h.h, 0.0) AS hub,
       |  coalesce(a.a, 0.0) AS authority,
       |  coalesce(od.out_deg, 0)::BIGINT AS out_deg,
       |  coalesce(id.in_deg, 0)::BIGINT AS in_deg
       |FROM q166n n
       |LEFT JOIN q166h$HitsRounds h USING (node)
       |LEFT JOIN q166a$HitsRounds a USING (node)
       |LEFT JOIN q166od od USING (node)
       |LEFT JOIN q166id id USING (node)
       |ORDER BY authority DESC, hub DESC, doc_id""".stripMargin
  }

  // --- q132: dedup-threshold cost curve ---------------------------------------

  val CurveCuts: Seq[Double] = Seq(0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95)

  /** Dedup-threshold economics: for each candidate Jaccard cut, how many
    * near-dup pairs exist, how many victim documents a "drop doc_b of any
    * pair ≥ t" policy removes, and what fraction of corpus tokens that
    * costs — the calibration curve consulted before committing to a
    * threshold (q27 hard-codes 0.9; this shows what 0.8 or 0.95 would
    * have done). Built on q95's LOSSLESS prefix-filtered exact-Jaccard
    * join at its 0.5 floor, so every threshold's pair set is exact — no
    * LSH recall falloff distorting the curve's low end.
    *
    * Scale shape: ONE exact pair derivation (q95's machinery, prefix-
    * pruned, never all-pairs), exploded onto the 10-cut list map-side;
    * victim sets are (t, doc_b) distincts of the dup-rate-bounded pair
    * table; token costs join the ≤10×|victims| grain against per-doc
    * counts; the corpus total is a 1-row broadcast. Determinism: the
    * jaccard column is 6-dp rounded identically in both engines, cuts
    * are shared literals, everything else integer.
    */
  def dedupCostCurve(spark: SparkSession, dir: String): DataFrame = {
    val cutsArr = CurveCuts.map(c => s"${c}D").mkString("array(", ", ", ")")
    val pairs = graft.core.CacheScope.persist(
      TextOps
        .prefixJoin(spark, dir)
        .select(col("doc_b"), col("jaccard"))
        .withColumn("t", explode(expr(cutsArr)))
        .filter(col("jaccard") >= col("t")))
    val cutsDf = spark.range(CurveCuts.length)
      .select(expr(cutsArr)(col("id")).as("t"))
    val toks = graft.core.CacheScope.persist(
      Tables.documents(spark, dir)
        .select(col("doc_id").as("doc_b"), size(TextOps.toks).cast("long").as("n_toks")))
    val total      = toks.agg(sum(col("n_toks")).as("total_toks"))
    val pairCounts = pairs.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
    val removed = pairs
      .select(col("t"), col("doc_b"))
      .distinct()
      .join(toks, "doc_b")
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n_victims"), sum(col("n_toks")).as("tokens_removed"))
    cutsDf
      .join(pairCounts, Seq("t"), "left")
      .join(removed, Seq("t"), "left")
      .crossJoin(broadcast(total))
      .select(
        col("t").as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_victims"), lit(0L)).as("n_victims"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        round(
          coalesce(col("tokens_removed"), lit(0L)).cast("double") /
            col("total_toks").cast("double"),
          6).as("pct_tokens_removed"))
      .orderBy(col("threshold"))
  }

  /** q132 oracle: q95's brute-force exact-pair chain as a derived table +
    * the same cut explode and integer rollups.
    */
  lazy val dedupCostCurveSql: String = {
    val cutsList = CurveCuts.mkString("[", ", ", "]")
    s"""WITH q132p AS MATERIALIZED (
       |  SELECT doc_b, jaccard FROM (${TextOps.prefixJoinSql})),
       |q132c AS (SELECT unnest($cutsList) AS t),
       |q132tv AS MATERIALIZED (
       |  SELECT c.t, p.doc_b FROM q132p p JOIN q132c c ON p.jaccard >= c.t),
       |q132pc AS (SELECT t, count(*)::BIGINT AS n_pairs FROM q132tv GROUP BY t),
       |q132tk AS (SELECT doc_id, len(${TextOps.DuckToks})::BIGINT AS n_toks FROM documents),
       |q132tot AS (SELECT sum(n_toks)::BIGINT AS total_toks FROM q132tk),
       |q132rm AS (
       |  SELECT v.t, count(*)::BIGINT AS n_victims, sum(k.n_toks)::BIGINT AS tokens_removed
       |  FROM (SELECT DISTINCT t, doc_b FROM q132tv) v
       |  JOIN q132tk k ON k.doc_id = v.doc_b
       |  GROUP BY v.t)
       |SELECT c.t AS threshold,
       |  coalesce(pc.n_pairs, 0)::BIGINT AS n_pairs,
       |  coalesce(rm.n_victims, 0)::BIGINT AS n_victims,
       |  coalesce(rm.tokens_removed, 0)::BIGINT AS tokens_removed,
       |  round(coalesce(rm.tokens_removed, 0)::DOUBLE / tot.total_toks::DOUBLE, 6)
       |    AS pct_tokens_removed
       |FROM q132c c
       |CROSS JOIN q132tot tot
       |LEFT JOIN q132pc pc ON pc.t = c.t
       |LEFT JOIN q132rm rm ON rm.t = c.t
       |ORDER BY threshold""".stripMargin
  }

  // --- q136: dup-graph health summary -----------------------------------------

  /** One-row structural health summary of the near-dup candidate graph:
    * node/edge/wedge/triangle counts, the global clustering coefficient
    * `3·triangles / wedges`, and Newman's degree assortativity — the
    * numbers that say what KIND of duplication a corpus has before any
    * per-cluster action: high clustering = mutually-corroborated clone
    * communities (q118's cycles), low clustering + many wedges = hub-and-
    * spoke template pollution, negative assortativity = hubs attached to
    * leaves (one template fanned into many one-off variants).
    *
    * Scale shape: everything derives from the session-shared edge stage —
    * degrees are one keyed aggregate, wedges are `Σ deg·(deg−1)/2`
    * (integer arithmetic on the degree table, no join), triangles reuse
    * q104's ordered wedge-close join (bounded by the dup-rate-bounded
    * edge list), and the assortativity moments are integer sums over
    * edges joined twice against the degree table. All ratios fixed
    * shapes; degenerate denominators surface as NULL rather than NaN.
    */
  def dupGraphHealth(spark: SparkSession, dir: String): DataFrame = {
    val e = SharedStages
      .minhashEdges(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val deg = graft.core.CacheScope.persist(
      e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d")))
    val counts = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) DIV 2")).as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e2.b").as("c"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val moments = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .agg(
        sum(col("da") * col("db")).as("sxy"),
        sum(col("da") + col("db")).as("sxpy"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sx2y2"))
    counts
      .crossJoin(broadcast(nEdges))
      .crossJoin(broadcast(tri))
      .crossJoin(broadcast(moments))
      .withColumn("mu", col("sxpy").cast("double") / (lit(2.0) * col("n_edges").cast("double")))
      .select(
        col("n_nodes"),
        col("n_edges"),
        col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"), 6))
          .as("clustering"),
        when(
          col("sx2y2").cast("double") / (lit(2.0) * col("n_edges").cast("double")) -
            col("mu") * col("mu") > 0,
          round(
            (col("sxy").cast("double") / col("n_edges").cast("double") - col("mu") * col("mu")) /
              (col("sx2y2").cast("double") / (lit(2.0) * col("n_edges").cast("double")) -
                col("mu") * col("mu")),
            6)).as("assortativity"))
  }

  /** q136 oracle: the bit-exact LSH edge emulation + identical integer
    * wedge/triangle/moment arithmetic and guard shapes.
    */
  lazy val dupGraphHealthSql: String =
    s"""WITH q136e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM (${TextOps.minhashLshSql})),
       |q136d AS MATERIALIZED (
       |  SELECT n, count(*)::BIGINT AS d FROM (
       |    SELECT a AS n FROM q136e UNION ALL SELECT b FROM q136e) GROUP BY n),
       |q136c AS (
       |  SELECT count(*)::BIGINT AS n_nodes,
       |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM q136d),
       |q136n AS (SELECT count(*)::BIGINT AS n_edges FROM q136e),
       |q136t AS (
       |  SELECT count(*)::BIGINT AS n_triangles
       |  FROM q136e e1 JOIN q136e e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM q136e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |q136m AS (
       |  SELECT CAST(sum(da.d * db.d) AS BIGINT) AS sxy,
       |    CAST(sum(da.d + db.d) AS BIGINT) AS sxpy,
       |    CAST(sum(da.d * da.d + db.d * db.d) AS BIGINT) AS sx2y2
       |  FROM q136e e JOIN q136d da ON da.n = e.a JOIN q136d db ON db.n = e.b)
       |SELECT c.n_nodes, n.n_edges, c.n_wedges, t.n_triangles,
       |  CASE WHEN c.n_wedges > 0 THEN
       |    round(3.0 * t.n_triangles::DOUBLE / c.n_wedges::DOUBLE, 6) END AS clustering,
       |  CASE WHEN m.sx2y2::DOUBLE / (2.0 * n.n_edges::DOUBLE) -
       |      (m.sxpy::DOUBLE / (2.0 * n.n_edges::DOUBLE)) * (m.sxpy::DOUBLE / (2.0 * n.n_edges::DOUBLE)) > 0
       |  THEN round(
       |    (m.sxy::DOUBLE / n.n_edges::DOUBLE -
       |      (m.sxpy::DOUBLE / (2.0 * n.n_edges::DOUBLE)) * (m.sxpy::DOUBLE / (2.0 * n.n_edges::DOUBLE))) /
       |    (m.sx2y2::DOUBLE / (2.0 * n.n_edges::DOUBLE) -
       |      (m.sxpy::DOUBLE / (2.0 * n.n_edges::DOUBLE)) * (m.sxpy::DOUBLE / (2.0 * n.n_edges::DOUBLE))), 6)
       |  END AS assortativity
       |FROM q136c c, q136n n, q136t t, q136m m""".stripMargin

  // --- q140: template hub documents -------------------------------------------

  val HubTopK = 25

  /** The corpus's template hubs: the documents with the most near-dup
    * candidate partners, with how many distinct SOURCES those partners
    * span and the hub's own metadata — the actionable doc-level output of
    * q136's wedge statistics (q136 says "this corpus is hub-and-spoke";
    * this hands curation the 25 actual hubs to inspect, and a hub whose
    * partners span many sources is a boilerplate/license-text template
    * rather than an intra-source mirror).
    *
    * Scale shape: degrees and neighbor-source counts are keyed aggregates
    * of the session-shared symmetrized edge list joined once against doc
    * metadata; top-[[HubTopK]] is TakeOrdered on (degree desc, doc_id).
    */
  def templateHubs(spark: SparkSession, dir: String): DataFrame = {
    val e = SharedStages
      .minhashEdges(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val s = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val meta = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val hubs = s
      .join(meta.select(col("doc_id").as("b"), col("source").as("nbr_source")), "b")
      .groupBy(col("a").as("doc_id"))
      .agg(
        count(lit(1)).as("degree"),
        countDistinct(col("nbr_source")).as("n_nbr_sources"))
    hubs
      .join(meta, "doc_id")
      .select(col("doc_id"), col("degree"), col("n_nbr_sources"),
        col("source"), col("lang"), col("n_chars"))
      .orderBy(col("degree").desc, col("doc_id"))
      .limit(HubTopK)
  }

  /** q140 oracle: bit-exact LSH edges + the same symmetrize/aggregate/
    * join shapes, integers throughout.
    */
  lazy val templateHubsSql: String =
    s"""WITH q140e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM (${TextOps.minhashLshSql})),
       |q140s AS (SELECT a, b FROM q140e UNION ALL SELECT b, a FROM q140e),
       |q140h AS (
       |  SELECT s.a AS doc_id, count(*)::BIGINT AS degree,
       |    count(DISTINCT d.source)::BIGINT AS n_nbr_sources
       |  FROM q140s s JOIN documents d ON d.doc_id = s.b
       |  GROUP BY s.a)
       |SELECT h.doc_id, h.degree, h.n_nbr_sources, d.source, d.lang, d.n_chars
       |FROM q140h h JOIN documents d USING (doc_id)
       |ORDER BY h.degree DESC, h.doc_id LIMIT $HubTopK""".stripMargin

  // --- q142: cross-source duplication flow matrix ------------------------------

  /** The verified-duplication flow matrix: for every unordered source
    * pair, how many VERIFIED near-dup pairs (q27's ≥0.9 evidence) connect
    * them and the mean similarity of those links — q54 measures potential
    * overlap at the gram level, this counts confirmed document-level
    * duplication BETWEEN sources: the off-diagonal mass is syndication/
    * mirroring across feeds, the diagonal is within-source templating,
    * and a data-buying decision reads this table directly ("source X is
    * 40% re-hosted source Y").
    *
    * Scale shape: the pair list is the session-shared verified stage
    * (dup-rate-bounded); two doc-keyed metadata joins and one
    * ≤|sources|²-row rollup. A single source-pair cell can hold ALL
    * verified pairs (one mirrored feed), so the mean similarity is an
    * order-free integer sum of the exactly-quantized 4-dp Jaccard
    * (jq = j·10⁴, the q72/q163 rule) — never an ordered collect of the
    * cell (long headroom ≈ 9·10^14 pairs per cell).
    */
  def dupFlowMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = SharedStages.jaccardPairs(spark, dir)
    val src   = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        least(col("sa"), col("sb")).as("src_lo"),
        greatest(col("sa"), col("sb")).as("src_hi"))
      .groupBy(col("src_lo"), col("src_hi"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(expr("CAST(round(jaccard * 10000, 0) AS BIGINT)")).as("sj"))
      .select(col("src_lo"), col("src_hi"), col("n_pairs"),
        round(col("sj").cast("double") / (col("n_pairs") * lit(10000L)).cast("double"), 6)
          .as("mean_jaccard"),
        (col("src_lo") === col("src_hi")).as("within_source"))
      .orderBy(col("src_lo"), col("src_hi"))
  }

  /** q142 oracle: exact all-pairs verified pairs (q27's oracle) + the
    * same least/greatest normalization and integer-exact quantized sums.
    */
  lazy val dupFlowMatrixSql: String =
    s"""WITH ${TextOps.DuckShingleCte},
       |${TextOps.DuckJaccardPairsCte},
       |q142p AS MATERIALIZED (
       |  SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
       |  FROM pairs WHERE jaccard >= ${TextOps.JaccardThreshold}),
       |q142s AS (
       |  SELECT p.doc_a, p.doc_b, p.jaccard,
       |    least(da.source, db.source) AS src_lo,
       |    greatest(da.source, db.source) AS src_hi
       |  FROM q142p p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b)
       |SELECT src_lo, src_hi, count(*)::BIGINT AS n_pairs,
       |  round(sum(CAST(round(jaccard * 10000, 0) AS BIGINT))::DOUBLE
       |    / (count(*) * 10000)::DOUBLE, 6) AS mean_jaccard,
       |  (src_lo = src_hi) AS within_source
       |FROM q142s GROUP BY src_lo, src_hi
       |ORDER BY src_lo, src_hi""".stripMargin

  // --- q116: stride-1 sliding-window substring dedup -------------------------

  val SubW = 12

  /** Exact substring-level dedup at sliding-window granularity — the
    * stride-1 companion of q81's chunk dedup and the instance-level
    * refinement of q51's distinct-gram coverage: EVERY [[SubW]]-token
    * window (stride 1) is hashed, each window instance is owned by its
    * lexicographically first (doc_id, widx) occurrence, and each document
    * reports how many of its window instances are duplicates — split into
    * SELF-repetition (owner is an earlier window of the same doc: chorus/
    * boilerplate loops) vs FOREIGN overlap (owner is another doc: the
    * Lee-et-al. cross-document repeated-substring signal at its native
    * granularity, where a stride-48 chunker can straddle and miss).
    *
    * Scale shape: rows after the explode = Σ(len − W + 1) ≈ total corpus
    * tokens — the linear cost every substring-dedup pass pays; ownership
    * is the q81 groupBy-MIN-struct (map-side combine — a viral window
    * shared by millions of docs collapses per-partition, never piles onto
    * one window task), then one hash join back on the window hash and one
    * doc-keyed rollup. Exact integer counts; the fraction is one guarded
    * division. Docs shorter than [[SubW]] report zero windows.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    // scope-persisted: read by the owner aggregate AND the join side —
    // without it the stride-1 explode + hash (the dominant map cost) runs
    // twice over the corpus. Window identity is an 8-byte xxhash64 long
    // (WindowGramHashes), not a 32-char md5 hex string: this explode is
    // ≈ one row per corpus token — the suite's widest shuffle — so key
    // width is the exchange volume (the q39/q51/q54 gram-hash rule).
    //
    // Collision semantics of the 64-bit identity (here and q214, which
    // shares the kernel): two DISTINCT windows colliding makes a false
    // dup/coverage match; expected collisions ≈ w²/2⁶⁵ for w distinct
    // windows, so ~0 at bench scale and ~2.7 expected false pairs per
    // 10¹⁰ distinct windows (≈ a 10-TB-token campaign) — noise against
    // the dup counts these reports aggregate, and the DuckDB oracle
    // re-derives the same hashes so the check is of the pipeline, not
    // the identity width. A campaign that needs certainty dials the
    // identity back to a 128-bit key (md5 of the window, the pre-r12
    // spelling) at ~5× the exchange volume of this stage.
    // r15: the persisted blocks are REPARTITIONED BY h before
    // materialization. The two consumers below both need the window grain
    // keyed by h — the owner aggregate (groupBy h) and the ownership join
    // (equi-key h) — and each previously paid its own instance-grain
    // exchange over the suite's widest shuffle. Persisting the
    // post-exchange layout moves the instance grain across the wire ONCE;
    // the cached partitioning (hash(h)) satisfies both consumers'
    // distribution requirements, so neither re-shuffles. (The final
    // per-doc rollup still exchanges its map-side partials — doc-grain,
    // small.)
    val wins = graft.core.CacheScope.persist(
      docs(spark, dir)
        .select(col("doc_id"), TextOps.toks.as("toks"))
        .filter(size(col("toks")) >= SubW)
        .select(
          col("doc_id"),
          posexplode(graft.functions.Expressions.window_gram_hashes(col("toks"), SubW))
            .as(Seq("widx", "h")))
        .repartition(col("h")))
    // r14.2: the q81 packed-ownership rule — min over doc_id · 2³¹ + widx
    // (lexicographic, injective; widx < 2³¹ by posexplode's Int) keeps the
    // suite's WIDEST aggregate (one group per corpus token window) on
    // HashAggregate where the struct min silently SortAggregated, sorting
    // every partition of the window grain. The owner doc decodes back out
    // with one exact integral divide.
    val packedWin =
      expr("CAST(doc_id AS DECIMAL(19,0)) * CAST(2147483648 AS DECIMAL(10,0)) + widx")
    val owner = wins
      .groupBy(col("h"))
      .agg(min(packedWin).as("own"))
    // Domain pin (r15, ADVICE): the packing and its `DIV` decode assume
    // doc_id ≥ 0 — `own DIV 2147483648` truncates toward zero, which only
    // equals the packing's floor semantics for non-negative doc_id (the
    // old struct comparison was sign-agnostic). The generated corpus and
    // the docs() loader contract guarantee non-negative ids; a future
    // signed-id corpus must widen the packing, not this decode.
    val stats = wins
      .join(owner, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("own") =!= packedWin, 1L).otherwise(0L)).as("n_dup"),
        sum(when(expr("own DIV 2147483648") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_foreign"))
    docs(spark, dir)
      .select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_foreign"), lit(0L)).as("n_foreign"),
        when(col("n_windows").isNull, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_windows").cast("double"))
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: q81's window spelling — unnest(generate_series) windows,
    * DISTINCT window strings mapped through the emulated xxhash64
    * ([[graft.functions.DuckHash]], exactly the Spark side's
    * WindowGramHashes) and joined back positionally, ownership as the
    * first row over (hash | doc_id, widx), HUGEINT sums pinned to BIGINT,
    * same guarded division.
    */
  lazy val substringDedupSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q116t" -> s"(SELECT doc_id, ${TextOps.DuckToks} AS toks FROM documents)",
      "q116x" ->
        s"""(SELECT doc_id, toks, unnest(generate_series(0, len(toks) - $SubW)) AS i
           |  FROM q116t WHERE len(toks) >= $SubW)""".stripMargin,
      "q116w0" ->
        s"""(SELECT doc_id, i AS widx, array_to_string(toks[i + 1 : i + $SubW], ' ') AS gram
           |  FROM q116x)""".stripMargin,
      "q116d" -> s"(SELECT gram, ${bytesOf("gram")} AS b FROM (SELECT DISTINCT gram FROM q116w0))"
    )
    val hb = hashBytesChain("q116hx", "q116d", Seq("gram"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q116f" -> s"(SELECT gram, CAST(${toSigned("hs")} AS BIGINT) AS h FROM ${hb.last})")
    ctes += ("q116w" -> "(SELECT doc_id, widx, h FROM q116w0 JOIN q116f USING (gram))")
    ctes += ("q116o" ->
      """(SELECT doc_id, widx,
        |    (row_number() OVER (PARTITION BY h ORDER BY doc_id, widx) = 1) AS is_own,
        |    first_value(doc_id) OVER (PARTITION BY h ORDER BY doc_id, widx) AS own_doc
        |  FROM q116w)""".stripMargin)
    ctes += ("q116r" ->
      """(SELECT doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN NOT is_own THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |    CAST(sum(CASE WHEN own_doc <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign
        |  FROM q116o GROUP BY doc_id)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT d.doc_id,
        |  coalesce(r.n_windows, 0)::BIGINT AS n_windows,
        |  coalesce(r.n_dup, 0)::BIGINT AS n_dup,
        |  coalesce(r.n_foreign, 0)::BIGINT AS n_foreign,
        |  CASE WHEN r.n_windows IS NULL THEN 0.0
        |       ELSE r.n_dup::DOUBLE / r.n_windows::DOUBLE END AS dup_frac
        |FROM documents d LEFT JOIN q116r r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
  }

  // --- q214: memorization-span density -----------------------------------------

  /** Verbatim-memorization gram width — the GPT-3/Dolma "strict" 13-token
    * rule: a 13-gram shared across documents is treated as memorizable
    * verbatim text, not coincidence. */
  val MemN = 13

  /** Per-source memorization-risk pricing: for every document, the
    * fraction of its TOKEN POSITIONS covered by at least one 13-gram that
    * also appears in ANOTHER document — the span-union view of repetition
    * that neither q51 (distinct-gram ownership fraction) nor q116
    * (window-instance dup fraction) reports: those count GRAMS, this
    * measures how much of the doc's actual surface sits inside shared
    * spans, which is what memorization-extraction risk scales with
    * (Lee et al. 2022). Per source: docs priced, docs mostly-memorized
    * (coverage ≥ 0.5), mean coverage — the table a release review reads
    * next to q205's benchmark sweep.
    *
    * Scale shape: stride-1 gram hashes (q116's explode — the honest
    * linear floor), distinct-doc df per gram as ONE map-side-combinable
    * aggregate (distinct (h, doc) grain first — never a count window; the
    * q51 hot-gram rule), join back keyed on the gram hash (1 df row per
    * gram — no fan-out on viral grams), position coverage via a ×[[MemN]]
    * in-row explode of QUALIFYING instances only, deduped at the (doc,
    * pos) grain (bounded by doc length), rollup ≤|sources| rows of
    * micro-quantized order-free integer sums. Risky verdict is an integer
    * cross-multiplication — no float compare can flip it.
    */
  def memorizationSpans(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
      .filter(size(col("toks")) >= MemN)
    val tc = graft.core.CacheScope.persist(t)
    // q116's positional window-hash kernel: 8-byte xxhash64 keys on the
    // corpus-token-grain explode (not md5 hex — same exchange-volume rule)
    val wins = tc.select(
      col("doc_id"),
      posexplode(graft.functions.Expressions.window_gram_hashes(col("toks"), MemN))
        .as(Seq("widx", "h")))
    val wc = graft.core.CacheScope.persist(wins)
    val shared = wc
      .select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("h"))
    // r14: covered token count by INTERVAL SWEEP instead of exploding all
    // MemN positions per window and distinct-ing the (doc, pos) pairs —
    // the union length of sorted [widx, widx+MemN-1] spans is each span's
    // end minus max(previous furthest end, widx-1), clamped at 0: the same
    // exact integer, at O(windows) instead of O(windows·MemN) with no
    // token-grain distinct shuffle. Windows sort per doc (widx is unique
    // within a doc), so the running max is an ordinary keyed window.
    val sweepW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("widx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = wc
      .join(shared, "h")
      .select(col("doc_id"), col("widx"), (col("widx") + lit(MemN - 1)).as("wend"))
      .withColumn("prev_end", max(col("wend")).over(sweepW))
      .select(
        col("doc_id"),
        greatest(
          col("wend") - greatest(coalesce(col("prev_end"), col("widx") - 1), col("widx") - 1),
          lit(0)).cast("long").as("gain"))
      .groupBy(col("doc_id"))
      .agg(sum(col("gain")).as("covered"))
    tc.select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("source"), col("n_toks"), coalesce(col("covered"), lit(0L)).as("covered"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("covered") * 2 >= col("n_toks"), 1L).otherwise(0L)).as("n_risky"),
        sum(expr("CAST(round(1000000.0 * covered / n_toks, 0) AS BIGINT)")).as("cq"))
      .select(
        col("source"), col("n_docs"), col("n_risky"),
        round(col("cq").cast("double") / (col("n_docs") * lit(1000000L)).cast("double"), 6)
          .as("mean_coverage"))
      .orderBy(col("source"))
  }

  /** Oracle: q116's window spelling at [[MemN]], distinct-doc df, the
    * same qualifying-position union, and the identical integer rollup.
    */
  lazy val memorizationSpansSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q214t" -> s"(SELECT doc_id, source, ${TextOps.DuckToks} AS toks FROM documents)",
      "q214f" -> s"(SELECT * FROM q214t WHERE len(toks) >= $MemN)",
      "q214x" ->
        s"""(SELECT doc_id, toks, unnest(generate_series(0, len(toks) - $MemN)) AS i
           |  FROM q214f)""".stripMargin,
      "q214w0" ->
        s"""(SELECT doc_id, i AS widx, array_to_string(toks[i + 1 : i + $MemN], ' ') AS gram
           |  FROM q214x)""".stripMargin,
      "q214d0" -> s"(SELECT gram, ${bytesOf("gram")} AS b FROM (SELECT DISTINCT gram FROM q214w0))"
    )
    val hb = hashBytesChain("q214hx", "q214d0", Seq("gram"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q214g" -> s"(SELECT gram, CAST(${toSigned("hs")} AS BIGINT) AS h FROM ${hb.last})")
    ctes += ("q214w" -> "(SELECT doc_id, widx, h FROM q214w0 JOIN q214g USING (gram))")
    ctes += ("q214sh" ->
      """(SELECT h FROM (
        |    SELECT h, count(DISTINCT doc_id) AS df FROM q214w GROUP BY h)
        |  WHERE df >= 2)""".stripMargin)
    ctes += ("q214q" ->
      s"""(SELECT DISTINCT doc_id, widx + unnest(generate_series(0, ${MemN - 1})) AS pos
         |  FROM q214w JOIN q214sh USING (h))""".stripMargin)
    ctes += ("q214c" -> "(SELECT doc_id, CAST(count(*) AS BIGINT) AS covered FROM q214q GROUP BY doc_id)")
    ctes += ("q214d" ->
      """(SELECT f.source, len(f.toks)::BIGINT AS n_toks,
        |    coalesce(c.covered, 0)::BIGINT AS covered
        |  FROM q214f f LEFT JOIN q214c c USING (doc_id))""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN covered * 2 >= n_toks THEN 1 ELSE 0 END) AS BIGINT) AS n_risky,
        |  round(CAST(sum(CAST(round(1000000.0 * covered / n_toks, 0) AS BIGINT)) AS DOUBLE)
        |    / (count(*) * 1000000)::DOUBLE, 6) AS mean_coverage
        |FROM q214d GROUP BY source
        |ORDER BY source""".stripMargin)
  }

  // --- q51: n-gram-coverage dedup ------------------------------------------

  val CovN      = 8
  val CovDupCut = 0.5

  /** Coverage-based dedup (the Lee-et-al. "substring overlap" family): for
    * each doc, the fraction of its distinct 8-grams already OWNED by an
    * earlier doc (owner = minimum doc_id containing the gram). A doc whose
    * grams are mostly second-hand is flagged, catching mosaic duplicates —
    * documents stitched from pieces of others — that whole-doc MinHash
    * misses (each piece dilutes whole-doc Jaccard below threshold).
    *
    * The min-owner is a groupBy aggregate joined back on the gram — NOT a
    * window over the gram partition: a window has no map-side combine, so
    * one boilerplate gram shared by millions of docs would pile every
    * instance onto a single task (window partitions cannot be split). The
    * aggregate collapses hot grams to one row per partition before the
    * shuffle, and the join back is an equi-join AQE can skew-split. Cost is
    * a second exchange on `g`, which the exchange reuse pays back (both
    * sides derive from the same explode).
    */
  def gramCoverage(spark: SparkSession, dir: String): DataFrame =
    gramCoverageOf(docs(spark, dir))

  private[graft] def gramCoverageOf(corpus: DataFrame): DataFrame = {
    // grams ride as in-row xxhash64 longs (distinctGramHashExpr): both
    // exchanges on `g` and the owner join compare 8-byte keys, not 8-token
    // strings — the oracle re-derives the same hashes, so still exact
    val sh = corpus
      .select(col("doc_id"), TextOps.toks.as("toks"))
      .filter(size(col("toks")) >= CovN)
      .select(col("doc_id"), explode(TextOps.distinctGramHashExpr(CovN)).as("g"))
    val owners = sh.groupBy(col("g")).agg(min(col("doc_id")).as("owner"))
    sh.join(owners, "g")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum((col("owner") < col("doc_id")).cast("long")).as("n_seen")
      )
      .withColumn("coverage", round(col("n_seen") / col("n_grams"), 4))
      .withColumn("is_dup", col("coverage") >= CovDupCut)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same distinct gram strings, mapped through the emulated
    * xxhash64 chain (DISTINCT per doc over the HASH, exactly the Spark
    * side's `array_distinct` over hashed grams), then the same min-owner
    * window and integer-exact counts; the coverage division is
    * BIGINT/BIGINT → DOUBLE in both engines, rounded to 4.
    */
  lazy val gramCoverageSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q51g" ->
        s"""(SELECT doc_id, unnest(${TextOps.duckDistinctGrams(CovN)}) AS gram
           |  FROM (SELECT doc_id, ${TextOps.DuckToks} AS toks FROM documents)
           |  WHERE len(toks) >= $CovN)""".stripMargin,
      "q51d" -> s"(SELECT gram, ${bytesOf("gram")} AS b FROM (SELECT DISTINCT gram FROM q51g))"
    )
    val hb = hashBytesChain("q51hx", "q51d", Seq("gram"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q51f" -> s"(SELECT gram, CAST(${toSigned("hs")} AS BIGINT) AS g FROM ${hb.last})")
    ctes += ("q51gh" -> "(SELECT DISTINCT doc_id, g FROM q51g JOIN q51f USING (gram))")
    ctes += ("q51own" -> "(SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS owner FROM q51gh)")
    ctes += ("q51agg" ->
      """(SELECT doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |  FROM q51own GROUP BY doc_id)""".stripMargin)
    assemble(
      ctes.toSeq,
      s"""SELECT doc_id, n_grams, n_seen,
         |  round(n_seen / n_grams, 4) AS coverage,
         |  round(n_seen / n_grams, 4) >= $CovDupCut AS is_dup
         |FROM q51agg
         |ORDER BY doc_id""".stripMargin)
  }

  // --- q52: incremental dedup (batch vs existing corpus) -------------------

  /** Dedup of a NEW ingestion batch against an EXISTING corpus snapshot —
    * the shape every recurring crawl runs: the existing side is already
    * deduped and immutable; only the batch needs verdicts. Even doc_ids
    * stand in for the existing snapshot, odd for the batch.
    *
    * A batch doc is dropped when there is exact (identical md5) or verified
    * near-dup (Jaccard ≥ 0.9) evidence against ANY existing doc (the
    * snapshot always wins, regardless of id order) or against an
    * earlier-id batch doc (first-seen-wins inside the batch). Exact
    * evidence outranks near-dup in the verdict. Unlike q33 this is
    * deliberately conservative — a batch doc drops even if its existing
    * keeper was itself low-quality, because the snapshot is not ours to
    * re-litigate at ingestion time.
    *
    * Plan shape: the exact check is ONE keyed shuffle on the content hash
    * (two windowed mins, no self-join); the near-dup check reuses the
    * LSH+verify pair pipeline and classifies its (tiny) pair output with
    * set operations. Nothing here fans out per-row at 100 TB.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d  = docs(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val wH = Window.partitionBy(col("h"))
    val flagged = d
      .withColumn("min_existing", min(when(col("doc_id") % 2 === 0, col("doc_id"))).over(wH))
      .withColumn("min_batch", min(when(col("doc_id") % 2 =!= 0, col("doc_id"))).over(wH))
      .filter(col("doc_id") % 2 =!= 0)
      .withColumn(
        "exact_dup",
        col("min_existing").isNotNull || col("min_batch") < col("doc_id"))

    val pairs = TextOps.ngramJaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val nearVictims = pairs
      .filter(col("doc_b") % 2 =!= 0)
      .select(col("doc_b").as("doc_id"))
      .union(
        pairs
          .filter(col("doc_a") % 2 =!= 0 && col("doc_b") % 2 === 0)
          .select(col("doc_a").as("doc_id")))
      .distinct()
      .withColumn("near_dup", lit(true))

    flagged
      .join(nearVictims, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_dup"), "exact_dup")
          .when(coalesce(col("near_dup"), lit(false)), "near_dup")
          .otherwise("kept")
          .as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: identical rules over the shared exact-Jaccard pair CTEs. */
  val incrementalDedupSql: String =
    s"""WITH ${TextOps.DuckShingleCte},
       |${TextOps.DuckJaccardPairsCte},
       |hashes AS (SELECT doc_id, md5(text) AS h FROM documents),
       |flags AS (
       |  SELECT doc_id,
       |    min(CASE WHEN doc_id % 2 = 0 THEN doc_id END) OVER (PARTITION BY h) AS min_existing,
       |    min(CASE WHEN doc_id % 2 <> 0 THEN doc_id END) OVER (PARTITION BY h) AS min_batch
       |  FROM hashes),
       |nearv AS (
       |  SELECT doc_b AS doc_id FROM pairs
       |  WHERE jaccard >= ${TextOps.JaccardThreshold} AND doc_b % 2 <> 0
       |  UNION
       |  SELECT doc_a FROM pairs
       |  WHERE jaccard >= ${TextOps.JaccardThreshold} AND doc_a % 2 <> 0 AND doc_b % 2 = 0)
       |SELECT f.doc_id,
       |  CASE WHEN f.min_existing IS NOT NULL OR f.min_batch < f.doc_id THEN 'exact_dup'
       |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       |       ELSE 'kept' END AS verdict
       |FROM flags f LEFT JOIN nearv n ON f.doc_id = n.doc_id
       |WHERE f.doc_id % 2 <> 0
       |ORDER BY f.doc_id""".stripMargin

  // --- q54: cross-source overlap matrix ------------------------------------

  val OverlapN     = 8
  val OverlapMaxDf = 50L

  /** Source-level duplication analytics: for every ordered source pair, how
    * many distinct 8-grams the two sources share — the "which crawls copy
    * from which" matrix that decides whether a whole source is worth
    * ingesting before any per-doc work runs.
    *
    * Shape: ONE keyed shuffle on the gram. A single aggregate computes both
    * the document frequency (for the q39-style boilerplate cap — a gram in
    * > [[OverlapMaxDf]] docs is no duplication evidence and is also the
    * skew bomb) and the per-gram DISTINCT source set; the source pairs then
    * expand IN-ROW via the same one-pass combination idiom as the LSH
    * bucket expansion ([[TextOps.pairExpansionSql]]), bounded by the source
    * count per gram. No self-join, no window: a gram shared by millions of
    * docs still collapses map-side (partial count + partial collect_set)
    * before it ever crosses the wire.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // grams as in-row xxhash64 longs (see q51): the one keyed shuffle
    // moves 8-byte keys; the oracle re-derives identical hashes
    val sh = docs(spark, dir)
      .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
      .filter(size(col("toks")) >= OverlapN)
      .select(col("doc_id"), col("source"), explode(TextOps.distinctGramHashExpr(OverlapN)).as("g"))
    sh.groupBy(col("g"))
      .agg(count(lit(1)).as("df"), collect_set(col("source")).as("ss"))
      .filter(col("df") <= OverlapMaxDf && size(col("ss")) >= 2)
      .select(array_sort(col("ss")).as("ss"))
      .select(
        explode(expr(TextOps.pairExpansionSql("ss", "a AS source_a, b AS source_b"))).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Oracle: same distinct gram strings mapped through the emulated hash
    * chain (per-doc distinct over the HASH, like the Spark side), same cap,
    * same distinct-per-source join.
    */
  lazy val sourceOverlapSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      "q54g" ->
        s"""(SELECT doc_id, source, unnest(${TextOps.duckDistinctGrams(OverlapN)}) AS gram
           |  FROM (SELECT doc_id, source, ${TextOps.DuckToks} AS toks FROM documents)
           |  WHERE len(toks) >= $OverlapN)""".stripMargin,
      "q54d" -> s"(SELECT gram, ${bytesOf("gram")} AS b FROM (SELECT DISTINCT gram FROM q54g))"
    )
    val hb = hashBytesChain("q54hx", "q54d", Seq("gram"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q54f" -> s"(SELECT gram, CAST(${toSigned("hs")} AS BIGINT) AS g FROM ${hb.last})")
    ctes += ("q54gh" -> "(SELECT DISTINCT doc_id, source, g FROM q54g JOIN q54f USING (gram))")
    ctes += ("q54pr" ->
      s"""(SELECT DISTINCT source, g FROM q54gh
         |  WHERE g NOT IN (SELECT g FROM q54gh GROUP BY g HAVING count(*) > $OverlapMaxDf))""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared_grams
        |FROM q54pr a JOIN q54pr b ON a.g = b.g AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY source_a, source_b""".stripMargin)
  }

  // --- q55: hybrid retrieval via reciprocal-rank fusion ---------------------

  val HybridK      = 20
  val RrfC         = 60
  val HybridTopK   = 10
  val HybridVecId  = 0L

  /** Hybrid text+vector retrieval: BM25 ranks (q49's leg) fused with cosine
    * ranks of a query embedding (q28's leg, doc_id ≡ vec_id) via reciprocal
    * rank fusion `Σ 1/(C + rank)` — the standard way production search
    * merges a lexical and a semantic ranker without score calibration.
    *
    * The text leg is q49's public entry verbatim (depth = [[BmTopK]]); the
    * vector leg cuts at [[HybridK]]. Both end in a TakeOrdered, so the
    * fusion join and the rank windows operate on ≤ BmTopK + HybridK rows
    * regardless of corpus size; the
    * heavy lifting stays in the legs, which keep their own scale shapes
    * (map-side tf + one-row stats broadcast; single-vector broadcast over a
    * linear scan). RRF arithmetic is two IEEE divisions and one sum in
    * fixed order — engine-identical with no rounding slack.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    // text-leg ranks via BoundedRank (≤ BmTopK rows): same (score desc,
    // doc_id) row_number, no partitionless-window warning
    val textRanks = BoundedRank.byValueDesc(bm25(spark, dir), col("score"), col("doc_id"), "doc_id", "rt")
    val vecRanks = VectorOps.cosineRanksForQuery(spark, dir, HybridVecId, HybridK)
    textRanks
      .join(vecRanks, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        (when(col("rt").isNotNull, lit(1.0) / (col("rt") + lit(RrfC))).otherwise(lit(0.0)) +
          when(col("rv").isNotNull, lit(1.0) / (col("rv") + lit(RrfC))).otherwise(lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(HybridTopK)
  }

  /** Oracle: the q49 statement as a subquery for the text leg, the q28
    * cosine idiom for the vector leg, identical fusion arithmetic.
    */
  lazy val hybridRrfSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rt
       |  FROM ($bm25Sql) b),
       |vtop AS (
       |  SELECT c.vec_id AS doc_id, ${VectorOps.duckCosine("q.vd", "c.vd")} AS sim
       |  FROM (SELECT embedding::DOUBLE[] AS vd FROM embeddings
       |         WHERE vec_id = $HybridVecId
       |           AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0) q,
       |       (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
       |         WHERE vec_id <> $HybridVecId
       |           AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0) c
       |  ORDER BY sim DESC, c.vec_id LIMIT $HybridK),
       |v AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rv FROM vtop)
       |SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       |  COALESCE(1.0/(t.rt + $RrfC), 0.0) + COALESCE(1.0/(v.rv + $RrfC), 0.0) AS rrf
       |FROM t FULL OUTER JOIN v ON t.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT $HybridTopK""".stripMargin

  // --- q164: retrieval rank agreement ----------------------------------------

  /** How much do the two retrieval legs q55 fuses actually AGREE? Over
    * the documents ranked by BOTH the BM25 text leg and the embedding
    * cosine leg (top-[[BmTopK]]/[[HybridK]] each), the exact Kendall
    * tau-b (pairwise concordance — no ties by construction) and Spearman
    * rho (dense re-ranks within the intersection) — the diagnostic RRF
    * fusion assumes away: high agreement means one leg is redundant
    * (drop the expensive one at 100 TB); low agreement with good end
    * metrics means the legs carry COMPLEMENTARY signal and fusion is
    * load-bearing. One row, exact integers until the two final divides.
    *
    * Scale shape: both legs are already top-k-bounded pipelines; the
    * intersection re-ranks ride [[BoundedRank]] (no partitionless
    * window), and the tau pair expansion is ≤k² rows of the persisted
    * intersection — bounded by construction, never the corpus.
    */
  def rankAgreement(spark: SparkSession, dir: String): DataFrame = {
    val textRanks =
      BoundedRank.byValueDesc(bm25(spark, dir), col("score"), col("doc_id"), "doc_id", "rt")
    val vecRanks = VectorOps.cosineRanksForQuery(spark, dir, HybridVecId, HybridK)
    val common = graft.core.CacheScope.persist {
      val joined = textRanks.join(vecRanks, "doc_id")
      val rtt = BoundedRank.byValueDesc(joined, -col("rt"), col("doc_id"), "doc_id", "rtt")
      val rvv = BoundedRank.byValueDesc(joined, -col("rv"), col("doc_id"), "doc_id", "rvv")
      joined.select(col("doc_id")).join(rtt, "doc_id").join(rvv, "doc_id")
    }
    val a = common.select(col("doc_id").as("ida"), col("rtt").as("ta"), col("rvv").as("va"))
    val b = common.select(col("doc_id").as("idb"), col("rtt").as("tb"), col("rvv").as("vb"))
    val pc = a
      .join(b, col("ida") < col("idb"))
      .select((((col("ta") - col("tb")) * (col("va") - col("vb"))) > 0).as("conc"))
      .groupBy()
      .agg(
        sum(when(col("conc"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("conc"), 1L).otherwise(0L)).as("d"))
    val sp = common
      .groupBy()
      .agg(
        count(lit(1)).as("n"),
        sum(((col("rtt") - col("rvv")) * (col("rtt") - col("rvv"))).cast("long")).as("sd2"))
    pc.crossJoin(broadcast(sp))
      .select(
        col("n").as("n_common"),
        expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").as("n_pairs"),
        col("c").as("n_concordant"),
        col("d").as("n_discordant"),
        when(col("n") >= 2,
          round(
            (col("c") - col("d")).cast("double") /
              expr("CAST(n * (n - 1) DIV 2 AS BIGINT)").cast("double"),
            6)).as("kendall_tau"),
        when(col("n") >= 2,
          round(
            lit(1.0) - lit(6.0) * col("sd2").cast("double") /
              expr("CAST(n * (n * n - 1) AS BIGINT)").cast("double"),
            6)).as("spearman_rho"))
  }

  /** q164 oracle: the q49/q28 leg statements, identical re-ranks, pair
    * concordance, and divide-round shapes.
    */
  lazy val rankAgreementSql: String =
    s"""WITH q164t AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rt
       |  FROM ($bm25Sql) b),
       |q164vtop AS (
       |  SELECT c.vec_id AS doc_id, ${VectorOps.duckCosine("q.vd", "c.vd")} AS sim
       |  FROM (SELECT embedding::DOUBLE[] AS vd FROM embeddings
       |         WHERE vec_id = $HybridVecId
       |           AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0) q,
       |       (SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
       |         WHERE vec_id <> $HybridVecId
       |           AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0) c
       |  ORDER BY sim DESC, c.vec_id LIMIT $HybridK),
       |q164v AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rv
       |  FROM q164vtop),
       |q164c AS MATERIALIZED (
       |  SELECT t.doc_id,
       |    ROW_NUMBER() OVER (ORDER BY t.rt) AS rtt,
       |    ROW_NUMBER() OVER (ORDER BY v.rv) AS rvv
       |  FROM q164t t JOIN q164v v USING (doc_id)),
       |q164p AS (
       |  SELECT
       |    CAST(sum(CASE WHEN (a.rtt - b.rtt) * (a.rvv - b.rvv) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN (a.rtt - b.rtt) * (a.rvv - b.rvv) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM q164c a JOIN q164c b ON a.doc_id < b.doc_id),
       |q164s AS (SELECT count(*)::BIGINT AS n,
       |  CAST(sum((rtt - rvv) * (rtt - rvv)) AS BIGINT) AS sd2 FROM q164c)
       |SELECT s.n AS n_common,
       |  CAST(s.n * (s.n - 1) // 2 AS BIGINT) AS n_pairs,
       |  p.c AS n_concordant, p.d AS n_discordant,
       |  CASE WHEN s.n >= 2 THEN round((p.c - p.d)::DOUBLE
       |    / (CAST(s.n * (s.n - 1) // 2 AS BIGINT))::DOUBLE, 6) END AS kendall_tau,
       |  CASE WHEN s.n >= 2 THEN round(1.0 - 6.0 * s.sd2::DOUBLE
       |    / (CAST(s.n * (s.n * s.n - 1) AS BIGINT))::DOUBLE, 6) END AS spearman_rho
       |FROM q164p p, q164s s""".stripMargin

  // --- q53: data-recipe mixture weights ------------------------------------

  val MixResolution = 1000000L

  /** Materializes a data recipe: each source carries a fractional sampling
    * weight (how many epochs of that source the training run should see),
    * and every doc gets a concrete integer repeat count realizing it —
    * `floor(w)` guaranteed repeats plus one more with probability
    * `frac(w)`, decided by a content-stable hash threshold (deterministic
    * stochastic rounding: the same doc gets the same verdict on any
    * cluster, any partitioning, any day). Purely map-side.
    *
    * The demo weight table derives from the source id
    * (`0.5 + (idx mod 4) * 0.75` → 0.5/1.25/2.0/2.75) so the oracle can
    * recompute it; production passes a real weight map. The fractional
    * threshold is computed in INTEGER arithmetic
    * (`(idx mod 4) * 750000 + 500000 mod 1e6`) — no float rounding in the
    * keep/repeat decision at all.
    */
  def mixWeights(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("idx", expr("CAST(substring(source, 4) AS INT)"))
      .withColumn("weight", lit(0.5) + (col("idx") % 4).cast("double") * lit(0.75))
      .withColumn(
        "thr",
        ((col("idx") % 4).cast("long") * lit(750000L) + lit(500000L)) % lit(MixResolution))
      .withColumn(
        "n_repeats",
        floor(col("weight")).cast("long") +
          when(pmod(xxhash64(col("doc_id")), lit(MixResolution)) < col("thr"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("weight"), col("n_repeats"))
      .orderBy(col("doc_id"))

  /** Oracle: same integer thresholds, emulated xxhash64. */
  lazy val mixWeightsSql: String = {
    import graft.functions.DuckHash._
    val ctes = ArrayBuffer[(String, String)](
      "q53in" ->
        """(SELECT doc_id, source, CAST(substr(source, 4) AS INTEGER) AS idx,
          |    doc_id::HUGEINT AS l FROM documents)""".stripMargin
    )
    val ch = new SqlChain("q53h", "q53in", Seq("doc_id", "source", "idx", "l"))
    hashLongLevels(ch, s"${toUnsigned("l")}", "42", "h")
    ctes ++= ch.ctes
    assemble(
      ctes.toSeq,
      s"""SELECT doc_id, source,
         |  0.5 + (idx % 4)::DOUBLE * 0.75 AS weight,
         |  CAST(floor(0.5 + (idx % 4)::DOUBLE * 0.75) AS BIGINT) +
         |    CASE WHEN (((${toSigned("h")} % $MixResolution) + $MixResolution) % $MixResolution)
         |              < ((idx % 4)::BIGINT * 750000 + 500000) % $MixResolution
         |         THEN 1 ELSE 0 END AS n_repeats
         |FROM ${ch.last}
         |ORDER BY doc_id""".stripMargin
    )
  }

  // --- q70: temperature-scaled source mixture --------------------------------

  /** Temperature sampling over sources (the T5/mT5 recipe step that
    * complements q53's per-doc repeat realization): natural token shares
    * `p_s = tokens_s / N` are flattened to `p_s^(1/T) / Σ p^(1/T)` so
    * low-resource sources are up-sampled. T = 2 here, making the exponent
    * `sqrt` — which IEEE 754 requires to be correctly rounded, so unlike a
    * general `pow` the whole computation is bit-exact across engines with
    * NO rounding slack: integer token sums, exact divisions, exact square
    * roots, and the one float SUM (Σ√p) folded in source order on both
    * sides. Output: natural share, temperature-scaled sampling probability,
    * and the resulting up/down-sampling factor per source.
    *
    * Scale shape: one corpus scan collapses map-side to |sources| rows
    * (persisted — the three tiny downstream consumers must not re-scan the
    * corpus); everything after operates on that bounded table with 1-row
    * broadcast stats (the q49/q59 pattern).
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("source"), size(TextOps.toks).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_tok"))
      .persist()
    val withP = counts
      .crossJoin(broadcast(counts.agg(sum(col("n_tok")).as("nn"))))
      .withColumn("p", col("n_tok").cast("double") / col("nn").cast("double"))
      .withColumn("w", sqrt(col("p")))
    val sumW = withP.agg(
      expr("aggregate(array_sort(collect_list(struct(source, w))), 0D, (a, x) -> a + x.w)")
        .as("sumw"))
    withP
      .crossJoin(broadcast(sumW))
      .select(
        col("source"),
        col("n_tok"),
        col("p"),
        (col("w") / col("sumw")).as("prob"),
        ((col("w") / col("sumw")) / col("p")).as("factor"))
      .orderBy(col("source"))
  }

  /** Oracle: identical integer sums, divisions, and square roots; the Σ√p
    * fold is pinned to source order on both sides — exact, tolerance-free.
    */
  val temperatureMixSql: String =
    s"""WITH c AS (
       |  SELECT source, CAST(sum(len(toks)) AS BIGINT) AS n_tok
       |  FROM (SELECT source, ${TextOps.DuckToks} AS toks FROM documents)
       |  GROUP BY source),
       |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS nn FROM c),
       |wp AS (SELECT source, n_tok, n_tok::DOUBLE / nn::DOUBLE AS p,
       |         sqrt(n_tok::DOUBLE / nn::DOUBLE) AS w FROM c, t),
       |s AS (SELECT list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY source)),
       |        (a, b) -> a + b) AS sumw FROM wp)
       |SELECT source, n_tok, p, w / sumw AS prob, (w / sumw) / p AS factor
       |FROM wp, s ORDER BY source""".stripMargin

  // --- q57: DSIR-style importance weighting --------------------------------

  val DsirBuckets = 128
  val DsirTarget  = Seq("src0", "src1")

  /** Data Selection with Importance Resampling (Xie et al. 2023) scoring:
    * every document gets `log(p_target(x) / p_raw(x))` under bag-of-hashed-
    * n-gram (n ∈ {1,2}) unigram models of a TARGET domain ([[DsirTarget]]
    * sources) vs the raw corpus, add-one smoothed over the [[DsirBuckets]]
    * feature space. Positive score = "looks like the target domain"; a
    * curation pass resamples the raw corpus ∝ exp(score) to shift its
    * distribution toward the target. Hashing bounds the feature space at
    * any corpus size — THE trick that makes importance weighting tractable
    * at 100 TB: the model is a [[DsirBuckets]]-row table, not a vocabulary.
    *
    * Scale shape: feature extraction is in-row (`transform` over the token
    * array — no join, no UDF); the two n-gram models collapse to ONE
    * bounded aggregate (≤ [[DsirBuckets]] rows) built with one keyed
    * shuffle and broadcast back; per-doc scoring shuffles on (doc, feature)
    * then (doc) with map-side combine. Like q49, the corpus is scanned
    * twice — once for the model, once for scoring — the unavoidable
    * two-pass of any global-statistics normalization.
    *
    * Float determinism: each feature's log-ratio is ONE `ln` of an exactly-
    * representable rational (integer products < 2^53, one correctly-rounded
    * division); the per-doc sum folds contributions in ascending-feature
    * order on both engines (Spark `aggregate` over `array_sort`, DuckDB
    * `list_reduce` over `list(… ORDER BY f)` — IEEE `0.0 + x ≡ x` makes the
    * seeded/seedless folds identical), and the final score rounds to 6 for
    * the same 1-ulp `ln` reason as q49.
    */
  /** Hashed 1/2-gram feature buckets over a `toks` column — shared by the
    * batch scorer and the E11 streaming model-apply gate.
    */
  // Codegen'd HashedNgramFeats (identical hashes/order to the interpreted
  // transform chain it replaced); shared by the model build and E11's
  // doc-order fold.
  private[graft] val dsirFeats: Column =
    graft.functions.Expressions.hashed_ngram_feats(col("toks"), DsirBuckets)

  private def dsirExploded(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
      .select(col("doc_id"), col("source"), explode(dsirFeats).as("f"))

  /** The trained model: per-feature smoothed `ln(p_target/p_raw)` —
    * ≤ [[DsirBuckets]] rows. ONE distributed (f → cr, ct) aggregate is
    * collected; feature totals and the log-ratio are then computed on the
    * ≤B driver-side rows. (An earlier formulation rode the totals on an
    * unpartitioned window over the model table — bounded input, but it
    * planned a SinglePartition exchange and logged the scary
    * "Moving all data to a single partition" warning on every run.)
    * `StrictMath.log` is what Spark's own `log` expression evaluates, so
    * the weights are bit-identical to the previous in-plan formulation and
    * the DuckDB oracle's rounded `ln` stays exact.
    */
  private def dsirModelOf(exploded: DataFrame): Map[Long, Double] = {
    val isTgt = col("source").isInCollection(DsirTarget)
    val rows = exploded
      .groupBy(col("f"))
      .agg(count(lit(1)).as("cr"), sum(isTgt.cast("long")).as("ct"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tr = rows.map(_._2).sum
    val tt = rows.map(_._3).sum
    rows.map { case (f, cr, ct) =>
      f -> StrictMath.log(
        ((ct + 1).toDouble * (tr + DsirBuckets).toDouble) /
          ((cr + 1).toDouble * (tt + DsirBuckets).toDouble))
    }.toMap
  }

  /** Collected model for broadcast-style application (E11): bucket → lr. */
  def dsirModel(spark: SparkSession, dir: String): Map[Long, Double] =
    dsirModelOf(dsirExploded(docs(spark, dir)))

  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(docs(spark, dir))

  private[graft] def dsirWeightsOf(corpus: DataFrame): DataFrame = {
    // The ≤B-row model is collected once at construction (a driver job,
    // like the q32/q46 trainers) and rides into the codegen'd DsirScore
    // expression as a reference object — scoring is a pure projection.
    // The previous formulation shuffled corpus×features twice ((doc, f)
    // count agg + doc-level collect_list) and joined the model back; at
    // 100 TB the apply pass must be map-side, which is also exactly the
    // E11 streaming shape. Same features, same ascending-feature fold,
    // same oracle.
    val model = dsirModelOf(dsirExploded(corpus))
    corpus
      .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
      .select(
        col("doc_id"),
        col("source"),
        graft.functions.Expressions.dsir_score(col("toks"), model, DsirBuckets).as("s"))
      .select(
        col("doc_id"),
        col("source"),
        col("s.n_feat").as("n_feat"),
        round(col("s.score"), 6).as("dsir_score"))
      .orderBy(col("doc_id"))
  }

  // --- q68: hashed bigram-LM cross-entropy (perplexity-style gate) ----------

  val LmBuckets = 4096

  /** KenLM-style fluency scoring — the quality filter production pipelines
    * run between heuristics (q22) and model gates (q57/q66): train a hashed
    * bigram language model on the corpus, score every document by its
    * average per-token surprisal (cross-entropy, nats); high-xent docs are
    * the gibberish/boilerplate candidates.
    *
    * Scale split (the q57/q66 pattern): training is ONE corpus scan whose
    * unigram- and bigram-bucket counts collapse to ≤ 2×[[LmBuckets]] rows
    * (collected at construction); scoring is a pure projection through the
    * codegen'd [[graft.functions.Expressions.LmXent]] — zero shuffles
    * besides the output sort, the map-side apply shape a 100 TB pass needs.
    * Cross-engine exactness: per-pair `ln` terms round to 6 decimals before
    * the position-ordered fold (the q49/q57 rule).
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val m = lmModelFor(spark, dir)
    lmScoreWith(docs(spark, dir), m._1, m._2)
  }

  /** Session-shared full-corpus bigram-LM model (q68 + q218 both train on
    * the unfiltered docs table — one collected ≤2×[[LmBuckets]]-row train
    * pass per session instead of one per query per bench run; q204 keeps
    * its own model, trained on ITS filtered corpus). Identical maps,
    * identical scores, same oracles.
    */
  private[graft] def lmModelFor(spark: SparkSession, dir: String): (Map[Long, Long], Map[Long, Long]) =
    SharedStages.model(spark, dir, "lmModel")(lmModelOf(docs(spark, dir)))

  /** Collected model: (bigram-bucket counts, unigram-bucket counts) —
    * both ≤ [[LmBuckets]] rows, ONE distributed aggregate over one scan
    * (unigram and bigram instances unioned in-row, tagged by kind).
    */
  private[graft] def lmModelOf(corpus: DataFrame): (Map[Long, Long], Map[Long, Long]) = {
    val B = LmBuckets
    val counts = corpus
      .select(TextOps.toks.as("toks"))
      .select(
        explode(concat(
          expr(s"transform(toks, t -> named_struct('kind', 0, 'f', pmod(xxhash64(t), $B)))"),
          expr(
            s"""zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),
               |  (a, b) -> named_struct('kind', 1, 'f', pmod(xxhash64(concat(a, ' ', b)), $B)))"""
              .stripMargin)
        )).as("kf"))
      .groupBy(col("kf.kind").as("kind"), col("kf.f").as("f"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val cb = counts.collect { case (1, f, c) => f -> c }.toMap
    val cu = counts.collect { case (0, f, c) => f -> c }.toMap
    (cb, cu)
  }

  private[graft] def lmScoreOf(corpus: DataFrame): DataFrame = {
    val (cb, cu) = lmModelOf(corpus)
    lmScoreWith(corpus, cb, cu)
  }

  /** Score `corpus` through an already-trained hashed bigram model —
    * factored so q201 can train on one half and score everything.
    */
  private[graft] def lmScoreWith(
      corpus: DataFrame,
      cb: Map[Long, Long],
      cu: Map[Long, Long]): DataFrame = {
    corpus
      .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
      .select(
        col("doc_id"),
        col("source"),
        graft.functions.Expressions.lm_xent(col("toks"), cb, cu, LmBuckets).as("s"))
      .select(
        col("doc_id"),
        col("source"),
        col("s.n_pairs").as("n_pairs"),
        col("s.lm_xent").as("lm_xent"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: DISTINCT token / bigram strings hashed once through the
    * [[graft.functions.DuckHash]] chain (the q57 pattern) and joined back
    * to positional pair instances; same add-one smoothing, same rounded
    * per-pair terms folded in position order.
    */
  lazy val lmScoreSql: String = {
    import graft.functions.DuckHash._
    val B = LmBuckets
    val ctes = ArrayBuffer[(String, String)](
      "q68t" -> s"(SELECT doc_id, ${TextOps.DuckToks} AS toks FROM documents)",
      "q68p" ->
        """(SELECT doc_id, pos, toks[pos] AS w1, toks[pos] || ' ' || toks[pos + 1] AS bg
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos FROM q68t))""".stripMargin,
      "q68uw" -> "(SELECT doc_id, unnest(toks) AS w FROM q68t)",
      "q68ud" -> s"(SELECT w, ${bytesOf("w")} AS b FROM (SELECT DISTINCT w FROM q68uw))"
    )
    val hu = hashBytesChain("q68hu", "q68ud", Seq("w"), "42", "hs")
    ctes ++= hu.ctes
    ctes += ("q68uf" -> s"(SELECT w, (((${toSigned("hs")} % $B) + $B) % $B) AS f1 FROM ${hu.last})")
    ctes += ("q68bd" -> s"(SELECT bg, ${bytesOf("bg")} AS b FROM (SELECT DISTINCT bg FROM q68p))")
    val hb = hashBytesChain("q68hb", "q68bd", Seq("bg"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q68bf" -> s"(SELECT bg, (((${toSigned("hs")} % $B) + $B) % $B) AS f2 FROM ${hb.last})")
    ctes += ("q68cu" -> "(SELECT f1, count(*) AS cu FROM q68uw JOIN q68uf USING (w) GROUP BY f1)")
    ctes += ("q68cb" -> "(SELECT f2, count(*) AS cb FROM q68p JOIN q68bf USING (bg) GROUP BY f2)")
    ctes += ("q68w" ->
      s"""(SELECT p.doc_id, p.pos, round(ln((cb + 1)::DOUBLE / (cu + $B)::DOUBLE), 6) AS w
         |  FROM q68p p JOIN q68uf u ON u.w = p.w1 JOIN q68bf g ON g.bg = p.bg
         |  JOIN q68cu ON q68cu.f1 = u.f1 JOIN q68cb ON q68cb.f2 = g.f2)""".stripMargin)
    ctes += ("q68s" ->
      """(SELECT doc_id, count(*) AS n_pairs,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY pos)), (a, b) -> a + b) AS s
        |  FROM q68w GROUP BY doc_id)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT d.doc_id, d.source, coalesce(n_pairs, 0) AS n_pairs,
        |  round(-s / n_pairs, 6) AS lm_xent
        |FROM documents d LEFT JOIN q68s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
  }

  // --- q218: DoReMi-style excess-loss mixture reweighting -----------------------

  /** DoReMi-lite mixture reweighting (Xie et al. 2023's signal, one
    * round, η=1): per source, mean bigram-LM cross-entropy vs the corpus
    * mean; sources with EXCESS loss (hard-for-the-proxy text) get their
    * token share multiplied by `exp(excess)` and renormalized — the
    * "upweight what the model hasn't absorbed" recipe step that sits
    * between q53's static weights and q70's popularity temperature, fed
    * by q68's own proxy model rather than a hand-picked prior. Output
    * per source: docs scored, LM token mass, mean/excess xent, and the
    * renormalized DoReMi weight a q53-style realizer would consume.
    *
    * Scale shape: scoring is q68's collected bounded model + codegen'd
    * projection (zero shuffle); the rollup is ONE ≤|sources| keyed
    * aggregate of integer sums (per-doc xent is already 6-dp quantized,
    * so ×10⁶ is LOSSLESS and the sums are order-free); the two 1-row
    * totals broadcast back (q70's shape). Determinism: exp differs ≤1
    * ulp between engines, so each source's weight TERM quantizes to 1e9
    * integer units immediately (the q211 rule) and the final weight is a
    * ratio of integers with one 6-dp round.
    */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame = {
    val lmModel = lmModelFor(spark, dir)
    val per = lmScoreWith(docs(spark, dir), lmModel._1, lmModel._2)
      .filter(col("n_pairs") >= 1)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_pairs")).as("lm_tokens"),
        sum(expr("CAST(round(lm_xent * 1000000, 0) AS BIGINT)")).as("xq"))
    val cached = graft.core.CacheScope.persist(per)
    val tot = cached.agg(
      sum(col("n_docs")).as("td"), sum(col("lm_tokens")).as("tt"), sum(col("xq")).as("txq"))
    val termed = graft.core.CacheScope.persist(
      cached
        .crossJoin(broadcast(tot))
        .withColumn("mean_xent",
          col("xq").cast("double") / (col("n_docs") * lit(1000000L)).cast("double"))
        .withColumn("corpus_xent",
          col("txq").cast("double") / (col("td") * lit(1000000L)).cast("double"))
        .withColumn("excess", greatest(lit(0.0), col("mean_xent") - col("corpus_xent")))
        .withColumn("wq", expr(
          "CAST(round(CAST(lm_tokens AS DOUBLE) / CAST(tt AS DOUBLE) * exp(excess) * 1000000000, 0) AS BIGINT)")))
    val wtot = termed.agg(sum(col("wq")).as("swq"))
    termed
      .crossJoin(broadcast(wtot))
      .select(
        col("source"), col("n_docs"), col("lm_tokens"),
        round(col("mean_xent"), 6).as("mean_xent"),
        round(col("excess"), 6).as("excess_xent"),
        round(col("wq").cast("double") / col("swq").cast("double"), 6).as("doremi_weight"))
      .orderBy(col("source"))
  }

  /** Oracle: q68's full scoring chain as a derived table, the identical
    * lossless ×10⁶ sums, the same IEEE expression order for share·exp,
    * and the integer-ratio weight.
    */
  lazy val doremiWeightsSql: String =
    s"""WITH q218s AS MATERIALIZED (
       |  SELECT source, n_pairs, lm_xent FROM ($lmScoreSql) WHERE n_pairs >= 1),
       |q218p AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_pairs) AS BIGINT) AS lm_tokens,
       |    CAST(sum(CAST(round(lm_xent * 1000000, 0) AS BIGINT)) AS BIGINT) AS xq
       |  FROM q218s GROUP BY source),
       |q218t AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS td, CAST(sum(lm_tokens) AS BIGINT) AS tt,
       |    CAST(sum(xq) AS BIGINT) AS txq FROM q218p),
       |q218w AS (
       |  SELECT p.source, p.n_docs, p.lm_tokens,
       |    p.xq::DOUBLE / (p.n_docs * 1000000)::DOUBLE AS mean_xent,
       |    greatest(0.0, p.xq::DOUBLE / (p.n_docs * 1000000)::DOUBLE
       |      - t.txq::DOUBLE / (t.td * 1000000)::DOUBLE) AS excess,
       |    CAST(round(p.lm_tokens::DOUBLE / t.tt::DOUBLE
       |      * exp(greatest(0.0, p.xq::DOUBLE / (p.n_docs * 1000000)::DOUBLE
       |          - t.txq::DOUBLE / (t.td * 1000000)::DOUBLE)) * 1000000000, 0) AS BIGINT) AS wq
       |  FROM q218p p, q218t t),
       |q218z AS (SELECT CAST(sum(wq) AS BIGINT) AS swq FROM q218w)
       |SELECT w.source, w.n_docs, w.lm_tokens,
       |  round(w.mean_xent, 6) AS mean_xent,
       |  round(w.excess, 6) AS excess_xent,
       |  round(w.wq::DOUBLE / z.swq::DOUBLE, 6) AS doremi_weight
       |FROM q218w w, q218z z
       |ORDER BY w.source""".stripMargin

  /** CTE chain rebuilding the hashed 1/2-gram feature instances as
    * relation `<pfx>e` (doc_id, source, f) — shared by the q57 and q66
    * oracles (both consume [[dsirFeats]]' feature space).
    */
  private def dsirFeatureCtes(pfx: String, whereSql: String = "TRUE"): ArrayBuffer[(String, String)] = {
    import graft.functions.DuckHash._
    val B = DsirBuckets
    val ctes = ArrayBuffer[(String, String)](
      s"${pfx}t" -> s"(SELECT doc_id, source, ${TextOps.DuckToks} AS toks FROM documents WHERE $whereSql)",
      s"${pfx}g" -> (s"(SELECT doc_id, source, unnest(list_concat(toks, " +
        s"list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))) AS gram FROM ${pfx}t)"),
      s"${pfx}d" -> s"(SELECT gram, ${bytesOf("gram")} AS b FROM (SELECT DISTINCT gram FROM ${pfx}g))"
    )
    val hb = hashBytesChain(s"${pfx}hx", s"${pfx}d", Seq("gram"), "42", "hs")
    ctes ++= hb.ctes
    ctes += (s"${pfx}f" ->
      s"(SELECT gram, (((${toSigned("hs")} % $B) + $B) % $B) AS f FROM ${hb.last})")
    ctes += (s"${pfx}e" ->
      s"(SELECT g.doc_id, g.source, d.f FROM ${pfx}g g JOIN ${pfx}f d ON g.gram = d.gram)")
    ctes
  }

  lazy val dsirWeightsSql: String = {
    import graft.functions.DuckHash._
    val B    = DsirBuckets
    val tgt  = DsirTarget.map(s => s"'$s'").mkString(", ")
    val ctes = dsirFeatureCtes("q57")
    ctes += ("q57s" ->
      s"""(SELECT f, count(*) AS cr,
         |    CAST(sum(CASE WHEN source IN ($tgt) THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |    FROM q57e GROUP BY f)""".stripMargin)
    ctes += ("q57o" ->
      "(SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt FROM q57s)")
    ctes += ("q57l" ->
      s"""(SELECT f, ln(((ct + 1)::DOUBLE * (tr + $B)::DOUBLE) /
         |             ((cr + 1)::DOUBLE * (tt + $B)::DOUBLE)) AS lr
         |    FROM q57s, q57o)""".stripMargin)
    ctes += ("q57c" ->
      "(SELECT doc_id, source, f, count(*) AS c FROM q57e GROUP BY doc_id, source, f)")
    ctes += ("q57w" ->
      "(SELECT doc_id, source, f, c, c::DOUBLE * lr AS w FROM q57c JOIN q57l USING (f))")
    assemble(
      ctes.toSeq,
      """SELECT doc_id, source, n_feat, round(s, 6) AS dsir_score FROM (
        |  SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_feat,
        |    list_reduce(list(w ORDER BY f), (a, b) -> a + b) AS s
        |  FROM q57w GROUP BY doc_id, source)
        |ORDER BY doc_id""".stripMargin
    )
  }

  // --- q66: hashed naive-Bayes domain classifier ----------------------------

  /** Multinomial naive Bayes over [[dsirFeats]]' hashed 1/2-gram feature
    * space, classifying every document's SOURCE — fastText-style domain
    * tagging without embeddings, the model-based router a data recipe
    * uses to tag crawl content by domain. Per doc: predicted class +
    * whether it matches the actual source (the model's own training-set
    * confusion — the standard first look at class separability).
    *
    * Scale split (the q57/E11 pattern): training is ONE distributed
    * aggregate over (class, feature) — ≤ classes × [[DsirBuckets]] rows,
    * collected — and the apply pass is a pure projection through the
    * codegen'd [[graft.functions.Expressions.NBClassify]], zero scoring
    * shuffles. Cross-engine exactness: weights/priors round to 6 decimals
    * BEFORE scoring (the q49 log-ulp rule), scores fold ascending by
    * feature from the prior, argmax ties break to the first class in
    * sorted order.
    */
  private[graft] case class NbModel(
      classes: Array[String],
      priors: Array[Double],
      weights: Map[Long, Array[Double]],
      w0: Array[Double])

  /** NB training: one (class, feature) aggregate + per-class doc counts,
    * both bounded (≤ classes × B and ≤ classes rows) — driver jobs at
    * construction, like the ANN trainers.
    */
  private def trainNb(corpus: DataFrame): NbModel = {
    val B = DsirBuckets
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cf = dsirExploded(corpus)
      .groupBy(col("source"), col("f"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docCounts = corpus
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nd"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val classes = docCounts.keys.toArray.sorted
    val nDocs   = docCounts.values.sum
    val tot     = cf.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val w0      = classes.map(c => r6(math.log(1.0 / (tot.getOrElse(c, 0L) + B))))
    val weights: Map[Long, Array[Double]] = cf
      .groupBy(_._2)
      .map { case (f, rows) =>
        val byCls = rows.map(r => r._1 -> r._3).toMap
        f -> classes.zipWithIndex.map { case (c, i) =>
          byCls.get(c) match {
            case Some(cnt) => r6(math.log((cnt + 1).toDouble / (tot(c) + B)))
            case None      => w0(i)
          }
        }
      }
    val priors = classes.map(c => r6(math.log(docCounts(c).toDouble / nDocs)))
    NbModel(classes, priors, weights, w0)
  }

  private def applyNb(corpus: DataFrame, m: NbModel): DataFrame =
    corpus
      .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
      .select(
        col("doc_id"),
        col("source"),
        graft.functions.Expressions
          .nb_classify(col("toks"), m.classes, m.priors, m.weights, m.w0, DsirBuckets)
          .as("predicted"))
      .withColumn("correct", col("source") === col("predicted"))
      .orderBy(col("doc_id"))

  /** The session-shared scored projection: the model trains ONCE per
    * (session, dir) via [[SharedStages.model]] and both q66 and q173
    * reuse it (the train-once twin of the dedup family's stage sharing).
    */
  private def nbScored(spark: SparkSession, dir: String): DataFrame =
    // session-shared: q66's per-doc report and q173's confusion rollup
    // both score the corpus through the (already shared) NB model — the
    // per-doc scored table is corpus-linear, so it rides a stage too
    SharedStages.nbScores(spark, dir)

  /** The raw NB apply pass the [[SharedStages.nbScores]] stage
    * materializes.
    */
  private[graft] def nbScoredPlan(spark: SparkSession, dir: String): DataFrame =
    applyNb(docs(spark, dir), nbModelFor(spark, dir))

  /** The memoized NB model itself — exposed so runners can prewarm the
    * train pass up front ([[SharedStages.prewarm]]).
    */
  private[graft] def nbModelFor(spark: SparkSession, dir: String): NbModel =
    SharedStages.model(spark, dir, "nbModel")(trainNb(docs(spark, dir)))

  def nbClassify(spark: SparkSession, dir: String): DataFrame =
    nbScored(spark, dir)

  /** Spec entry point: explicit corpus, untracked fresh training. */
  private[graft] def nbClassifyOf(corpus: DataFrame): DataFrame =
    applyNb(corpus, trainNb(corpus))

  /** NB prediction CTE chain (hashed feature space → rounded-weight
    * model → per-doc argmax), prefix-parameterized so q66's per-doc
    * report and q173's aggregate eval share ONE spelling — scores fold
    * ascending by feature from the prior, argmax via (score DESC, cls
    * ASC) rank.
    */
  private def nbPredCtes(pfx: String): ArrayBuffer[(String, String)] = {
    val B    = DsirBuckets
    val ctes = dsirFeatureCtes(pfx)
    ctes += (s"${pfx}cls" -> "(SELECT source AS cls, count(*) AS nd FROM documents GROUP BY source)")
    ctes += (s"${pfx}n" -> "(SELECT count(*) AS n FROM documents)")
    ctes += (s"${pfx}cf" -> s"(SELECT source AS cls, f, count(*) AS cnt FROM ${pfx}e GROUP BY source, f)")
    ctes += (s"${pfx}tot" -> s"(SELECT cls, CAST(sum(cnt) AS BIGINT) AS tot FROM ${pfx}cf GROUP BY cls)")
    ctes += (s"${pfx}w" ->
      s"(SELECT cls, f, round(ln((cnt + 1)::DOUBLE / (tot + $B)::DOUBLE), 6) AS w FROM ${pfx}cf JOIN ${pfx}tot USING (cls))")
    // ${pfx}k LEFT-joins ${pfx}tot (coalesce tot→0) and ${pfx}sc starts from
    // documents, so a class with zero feature instances and a document with
    // zero features both survive — mirroring NBClassify's tot.getOrElse /
    // prior-only-score behavior instead of silently dropping rows if the
    // tokenizer ever stops guaranteeing ≥1 token per doc.
    ctes += (s"${pfx}k" ->
      s"""(SELECT c.cls, round(ln(1::DOUBLE / (coalesce(t.tot, 0) + $B)::DOUBLE), 6) AS w0,
         |    round(ln(nd::DOUBLE / n::DOUBLE), 6) AS prior
         |  FROM ${pfx}cls c LEFT JOIN ${pfx}tot t ON t.cls = c.cls, ${pfx}n)""".stripMargin)
    ctes += (s"${pfx}dc" -> s"(SELECT doc_id, f, count(*) AS c FROM ${pfx}e GROUP BY doc_id, f)")
    ctes += (s"${pfx}sc" ->
      s"""(SELECT dd.doc_id, k.cls,
         |    list_reduce(list_prepend(k.prior,
         |        coalesce(list(d.c::DOUBLE * coalesce(w.w, k.w0) ORDER BY d.f)
         |                   FILTER (d.f IS NOT NULL), [])),
         |      (a, b) -> a + b) AS score
         |  FROM (SELECT doc_id FROM documents) dd
         |  CROSS JOIN ${pfx}k k
         |  LEFT JOIN ${pfx}dc d ON d.doc_id = dd.doc_id
         |  LEFT JOIN ${pfx}w w ON w.cls = k.cls AND w.f = d.f
         |  GROUP BY dd.doc_id, k.cls, k.prior)""".stripMargin)
    ctes += (s"${pfx}pred" ->
      s"""(SELECT doc_id, cls AS predicted FROM (
         |    SELECT doc_id, cls,
         |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rk
         |    FROM ${pfx}sc)
         |  WHERE rk = 1)""".stripMargin)
    ctes
  }

  /** Oracle: the q66-prefixed feature chain + the same rounded-weight
    * model in SQL, scores folded ascending by feature from the prior,
    * argmax via (score DESC, cls ASC) rank.
    */
  lazy val nbClassifySql: String = {
    import graft.functions.DuckHash._
    assemble(
      nbPredCtes("q66").toSeq,
      """SELECT d.doc_id, d.source, p.predicted, (d.source = p.predicted) AS correct
        |FROM documents d JOIN q66pred p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)
  }

  // --- q173: classifier evaluation report (per-class P/R/F1 + kappa) ---------

  /** Classifier-evaluation report over q66's NB predictions — the QA
    * table a pseudo-labeling pipeline publishes before anyone trusts the
    * router's tags: per class, support / prediction count / true
    * positives and precision, recall, F1; plus the `_ALL` row with
    * micro-averaged accuracy (= micro-P = micro-R = micro-F1) and
    * Cohen's kappa — the chance-corrected agreement that exposes a
    * classifier coasting on class imbalance (q86 reports the language-ID
    * confusion CELLS; q173 reports the decision-grade summary metrics).
    *
    * Scale shape: the corpus collapses to the ≤ |classes|² confusion
    * matrix in ONE aggregate over the scoring projection (training reuses
    * q66's bounded model collect); every metric derives from that tiny
    * table — marginals, rollups and 1-row broadcasts, never a second
    * corpus pass. Determinism: counts are exact longs; F1 spells as the
    * integer ratio 2·tp/(n_pred+support) (one divide, no p·r/(p+r)
    * float chain), and kappa as the exact integer ratio
    * (T·N − Σrᵢcᵢ)/(N² − Σrᵢcᵢ) in DECIMAL(38,0) (overflow-safe at
    * 10¹⁰ docs) — each one correctly-rounded divide before the 6-dp
    * round; a class never predicted gets NULL precision.
    */
  def classifierEval(spark: SparkSession, dir: String): DataFrame = {
    val conf = graft.core.CacheScope.persist(
      nbScored(spark, dir)
        .groupBy(col("source"), col("predicted"))
        .agg(count(lit(1)).as("n")))
    val act = conf.groupBy(col("source").as("cls")).agg(sum(col("n")).as("support"))
    val prd = conf.groupBy(col("predicted").as("cls")).agg(sum(col("n")).as("n_pred"))
    val tp  = conf
      .filter(col("source") === col("predicted"))
      .select(col("source").as("cls"), col("n").as("tp"))
    val perClass = act
      .join(prd, Seq("cls"), "left")
      .join(tp, Seq("cls"), "left")
      .select(
        col("cls"),
        col("support"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(
        col("cls"),
        col("support"),
        col("n_pred"),
        col("tp"),
        when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred").cast("double"), 6)).as("precision"),
        round(col("tp").cast("double") / col("support").cast("double"), 6).as("recall"),
        round((col("tp") * lit(2L)).cast("double") /
          (col("n_pred") + col("support")).cast("double"), 6).as("f1"),
        lit(null).cast("double").as("kappa"))
    val tot = conf
      .groupBy()
      .agg(
        sum(col("n")).as("nn"),
        coalesce(sum(when(col("source") === col("predicted"), col("n"))), lit(0L)).as("t"))
    val agr = act
      .join(prd, Seq("cls"), "left")
      .groupBy()
      .agg(sum(col("support").cast("decimal(38,0)") *
        coalesce(col("n_pred"), lit(0L)).cast("decimal(38,0)")).as("agr"))
    val nD = col("nn").cast("decimal(38,0)")
    val tD = col("t").cast("decimal(38,0)")
    val acc = round(col("t").cast("double") / col("nn").cast("double"), 6)
    val allRow = tot
      .crossJoin(broadcast(agr)) // 1×1: grand total × agreement expectation
      .select(
        lit("_ALL").as("cls"),
        col("nn").as("support"),
        col("nn").as("n_pred"),
        col("t").as("tp"),
        acc.as("precision"),
        acc.as("recall"),
        acc.as("f1"),
        when((nD * nD - col("agr")) =!= 0,
          round((tD * nD - col("agr")).cast("double") /
            (nD * nD - col("agr")).cast("double"), 6)).as("kappa"))
    perClass.unionByName(allRow).orderBy(col("cls"))
  }

  /** Oracle: the shared q173-prefixed NB prediction chain + identical
    * confusion-marginal arithmetic (HUGEINT products mirror the
    * DECIMAL(38,0) kappa legs; "precision" quoted — reserved word).
    */
  lazy val classifierEvalSql: String = {
    import graft.functions.DuckHash._
    val ctes = nbPredCtes("q173")
    ctes += ("q173conf" ->
      """(SELECT d.source, p.predicted, count(*)::BIGINT AS n
        |  FROM documents d JOIN q173pred p ON p.doc_id = d.doc_id
        |  GROUP BY 1, 2)""".stripMargin)
    ctes += ("q173act" ->
      "(SELECT source AS cls, CAST(sum(n) AS BIGINT) AS support FROM q173conf GROUP BY 1)")
    ctes += ("q173prd" ->
      "(SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS n_pred FROM q173conf GROUP BY 1)")
    ctes += ("q173tpc" ->
      "(SELECT source AS cls, n AS tp FROM q173conf WHERE source = predicted)")
    ctes += ("q173gt" ->
      """(SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(coalesce(sum(n) FILTER (source = predicted), 0) AS BIGINT) AS t
        |  FROM q173conf)""".stripMargin)
    ctes += ("q173agr" ->
      """(SELECT CAST(sum(a.support::HUGEINT * coalesce(p.n_pred, 0)) AS HUGEINT) AS agr
        |  FROM q173act a LEFT JOIN q173prd p ON p.cls = a.cls)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT * FROM (
        |  SELECT a.cls, a.support, coalesce(p.n_pred, 0)::BIGINT AS n_pred,
        |    coalesce(t.tp, 0)::BIGINT AS tp,
        |    CASE WHEN coalesce(p.n_pred, 0) > 0
        |      THEN round(coalesce(t.tp, 0)::DOUBLE / p.n_pred::DOUBLE, 6) END AS "precision",
        |    round(coalesce(t.tp, 0)::DOUBLE / a.support::DOUBLE, 6) AS recall,
        |    round((coalesce(t.tp, 0) * 2)::DOUBLE / (coalesce(p.n_pred, 0) + a.support)::DOUBLE, 6) AS f1,
        |    CAST(NULL AS DOUBLE) AS kappa
        |  FROM q173act a LEFT JOIN q173prd p ON p.cls = a.cls
        |    LEFT JOIN q173tpc t ON t.cls = a.cls
        |  UNION ALL
        |  SELECT '_ALL' AS cls, tt.nn AS support, tt.nn AS n_pred, tt.t AS tp,
        |    round(tt.t::DOUBLE / tt.nn::DOUBLE, 6) AS "precision",
        |    round(tt.t::DOUBLE / tt.nn::DOUBLE, 6) AS recall,
        |    round(tt.t::DOUBLE / tt.nn::DOUBLE, 6) AS f1,
        |    CASE WHEN (tt.nn::HUGEINT * tt.nn - g.agr) <> 0 THEN
        |      round((tt.t::HUGEINT * tt.nn - g.agr)::DOUBLE
        |        / (tt.nn::HUGEINT * tt.nn - g.agr)::DOUBLE, 6) END AS kappa
        |  FROM q173gt tt CROSS JOIN q173agr g)
        |ORDER BY cls""".stripMargin)
  }

  // --- q105: referential-integrity / data-quality audit -----------------------

  /** Constraint audit over the star schema — the DQ suite every warehouse
    * runs on ingest: orphan facts (lineitem → orders), childless parents
    * (orders with no lineitems), dangling dimension keys (orders →
    * customer), domain-range checks (quantity > 0, discount ∈ [0,1]), and
    * the cross-table temporal invariant (shipdate ≥ its order's
    * orderdate). One row per check: violations + population.
    *
    * Scale shape: key checks are LEFT ANTI joins on the join keys (the
    * shuffle Spark would do for the production join anyway — AQE
    * broadcasts small parents); domain checks are map-side predicates
    * folded into one aggregate per table scan; the temporal check rides
    * ONE orderkey-keyed join. Each check emits a 1-row aggregate and the
    * report is their union — nothing wide ever collects.
    */
  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li  = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cst = Tables.customer(spark, dir)

    def report(name: String, viol: DataFrame, total: Long): DataFrame =
      viol.agg(count(lit(1)).as("n_violations"))
        .select(
          lit(name).as("check"),
          col("n_violations"),
          lit(total).as("n_checked"))

    val nLi  = li.count()
    val nOrd = ord.count()
    Seq(
      report("1_orphan_lineitems",
        li.select(col("l_orderkey"))
          .join(ord.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti"),
        nLi),
      report("2_childless_orders",
        ord.select(col("o_orderkey"))
          .join(li.select(col("l_orderkey").as("o_orderkey")), Seq("o_orderkey"), "left_anti"),
        nOrd),
      report("3_dangling_custkey",
        ord.select(col("o_custkey"))
          .join(cst.select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti"),
        nOrd),
      report("4_nonpositive_quantity", li.filter(col("l_quantity") <= 0), nLi),
      report("5_discount_out_of_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 1), nLi),
      report("6_ship_before_order",
        li.select(col("l_orderkey"), col("l_shipdate"))
          .join(ord.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")), "l_orderkey")
          .filter(col("l_shipdate") < col("o_orderdate")),
        nLi)
    ).reduce(_.unionByName(_)).orderBy(col("check"))
  }

  /** q105 oracle: the same six constraint counts as scalar subqueries. */
  val integrityAuditSql: String =
    """SELECT * FROM (
      |  SELECT '1_orphan_lineitems' AS "check",
      |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT AS n_violations,
      |    (SELECT count(*) FROM lineitem)::BIGINT AS n_checked
      |  UNION ALL SELECT '2_childless_orders',
      |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))::BIGINT,
      |    (SELECT count(*) FROM orders)::BIGINT
      |  UNION ALL SELECT '3_dangling_custkey',
      |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))::BIGINT,
      |    (SELECT count(*) FROM orders)::BIGINT
      |  UNION ALL SELECT '4_nonpositive_quantity',
      |    (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)::BIGINT,
      |    (SELECT count(*) FROM lineitem)::BIGINT
      |  UNION ALL SELECT '5_discount_out_of_range',
      |    (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)::BIGINT,
      |    (SELECT count(*) FROM lineitem)::BIGINT
      |  UNION ALL SELECT '6_ship_before_order',
      |    (SELECT count(*) FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |     WHERE l.l_shipdate < o.o_orderdate)::BIGINT,
      |    (SELECT count(*) FROM lineitem)::BIGINT)
      |ORDER BY "check"""".stripMargin

  // --- q104: triangle counting on the near-dup graph --------------------------

  /** Per-node triangle counts over the near-dup candidate graph — the
    * local-clustering evidence that separates genuine duplicate CLIQUES
    * (template families, mirror sites: triangle-dense) from chains of
    * borderline pairs (hash-collision noise: triangle-free), complementing
    * q47's components and q97's centrality.
    *
    * Node-iterator shape on canonical (a < b) edges: wedge join on the
    * shared middle node + one closing-edge semi-check — two node-keyed
    * joins over the dup-rate-bounded edge list (never the corpus), the
    * standard distributed triangle plan. Each triangle a<b<c is counted
    * once, then contributes to all three member nodes via one explode.
    */
  def dupTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = TextOps.minhashCandidatePairs(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
    tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("doc_id"))
  }

  /** q104 oracle: the bit-exact LSH edge emulation + the same wedge-close
    * joins and per-node explode.
    */
  lazy val dupTrianglesSql: String =
    s"""WITH q104e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM (${TextOps.minhashLshSql})),
       |q104t AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM q104e e1
       |  JOIN q104e e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM q104e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |q104n AS (
       |  SELECT unnest([a, b, c]) AS doc_id FROM q104t)
       |SELECT doc_id, count(*)::BIGINT AS n_triangles
       |FROM q104n
       |GROUP BY doc_id
       |ORDER BY n_triangles DESC, doc_id""".stripMargin

  // --- q98: snapshot diff (SCD-style delta report) ---------------------------

  /** Generic two-snapshot diff: full-outer join on doc_id, content compare
    * by md5, and a per-(source, status) rollup — the
    * added/removed/changed/unchanged accounting every incremental corpus
    * refresh publishes. The doc_id-keyed join is the scale shape (both
    * sides shuffle once on the key; AQE broadcasts if one snapshot is
    * small); everything after the join is one aggregate of classified
    * rows.
    */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame =
      df.select(
        col("doc_id"),
        col("source").as(s"src_$tag"),
        md5(col("text")).as(s"h_$tag"),
        length(col("text")).cast("long").as(s"c_$tag"))
    side(prev, "p")
      .join(side(cur, "c"), Seq("doc_id"), "full_outer")
      .withColumn(
        "status",
        when(col("h_p").isNull, "added")
          .when(col("h_c").isNull, "removed")
          .when(col("h_p") === col("h_c"), "unchanged")
          .otherwise("changed"))
      .groupBy(coalesce(col("src_c"), col("src_p")).as("source"), col("status"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("c_p"), lit(0L))).as("chars_prev"),
        sum(coalesce(col("c_c"), lit(0L))).as("chars_cur"))
      .orderBy(col("source"), col("status"))
  }

  /** q98: [[snapshotDiff]] driven by two deterministic views of the test
    * corpus — "previous" drops doc_id ≡ 0 (mod 7) (so those rows surface
    * as `added`), "current" drops doc_id ≡ 0 (mod 11) (`removed`) and
    * carries the q48-scrubbed text (PII hits surface as `changed`).
    */
  def snapshotDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    snapshotDiff(
      d.filter(col("doc_id") % 7 =!= 0),
      d.filter(col("doc_id") % 11 =!= 0).withColumn("text", scrubCol(col("text"))))
  }

  /** q98 oracle: the same two views (scrub via the shared
    * [[duckScrubExpr]]), full join, identical classification and rollup.
    */
  lazy val snapshotDiffSql: String =
    s"""WITH q98p AS (
       |  SELECT doc_id, source, md5(text) AS h, length(text)::BIGINT AS c
       |  FROM documents WHERE doc_id % 7 <> 0),
       |q98c AS (
       |  SELECT doc_id, source, md5($duckScrubExpr) AS h, length($duckScrubExpr)::BIGINT AS c
       |  FROM documents WHERE doc_id % 11 <> 0),
       |q98j AS (
       |  SELECT coalesce(c.source, p.source) AS source,
       |    CASE WHEN p.h IS NULL THEN 'added'
       |         WHEN c.h IS NULL THEN 'removed'
       |         WHEN p.h = c.h THEN 'unchanged'
       |         ELSE 'changed' END AS status,
       |    coalesce(p.c, 0) AS c_p, coalesce(c.c, 0) AS c_c
       |  FROM q98p p FULL OUTER JOIN q98c c USING (doc_id))
       |SELECT source, status, count(*)::BIGINT AS n_docs,
       |  sum(c_p)::BIGINT AS chars_prev, sum(c_c)::BIGINT AS chars_cur
       |FROM q98j
       |GROUP BY source, status
       |ORDER BY source, status""".stripMargin

  // --- q97: PageRank centrality over the near-dup graph ---------------------

  /** Damping factor and fixed iteration count (fixed so the oracle unrolls
    * exactly — the q32/q46 Lloyd-chain rule).
    */
  val PrDamping = 0.85
  val PrRounds  = 5

  /** PageRank over the undirected near-dup candidate graph (q78's edge
    * set): which document is the CENTER of its duplication neighborhood —
    * a canonical-selection signal complementing q56's quality rule (hubs
    * of templated boilerplate rank high; peripheral one-off variants low).
    *
    * Scale shape: the graph is the LSH candidate edge list — bounded by
    * the corpus dup rate, never corpus² (q25's cap rules) — checkpointed
    * once with degrees attached; each of the K=5 power-iteration rounds is
    * one node-keyed join + aggregate on that edge table (q47's per-round
    * shape). Per-node aggregation state is one long, not a neighbor
    * array: template hubs (q140 exists because dup graphs have them)
    * make in-degree unbounded, so an ordered collect here would be
    * executor-OOM state at scale.
    *
    * Exactness: each contribution pr/deg is quantized to integer
    * femto-units (·10¹⁵) and summed order-free (the q72/q163 rule) —
    * a per-node sum is bounded by the total PageRank mass ≈ 1, i.e.
    * ≤ ~10¹⁵ femto-units, so the long never overflows AT ANY degree,
    * and the ≤ 0.5·10⁻¹⁵-per-term quantization stays below the 6-dp
    * output grain up to ~10⁹ in-neighbors. Every round's rank is
    * rounded to 6dp BEFORE the next round reads it (the q49/q66
    * round-before-reuse rule), so 5 rounds cannot accumulate
    * cross-engine drift.
    */
  def pagerankDups(spark: SparkSession, dir: String): DataFrame = {
    val cand = TextOps.minhashCandidatePairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, "src").localCheckpoint()
    val n = withDeg.select(countDistinct(col("src"))).head().getLong(0)
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

    var pr = deg.select(col("src").as("node"), lit(if (n > 0) r6(1.0 / n) else 0.0).as("pr"))
    (1 to PrRounds).foreach { _ =>
      pr = withDeg
        .join(pr, withDeg("src") === pr("node"))
        .select(col("dst"), col("src"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("dst"))
        .agg(sum(expr("CAST(round(c * 1e15, 0) AS BIGINT)")).as("s"))
        .select(
          col("dst").as("node"),
          round(lit((1 - PrDamping) / n)
            + lit(PrDamping) * (col("s").cast("double") / lit(1e15)), 6).as("pr"))
    }
    pr.join(deg.select(col("src").as("node"), col("deg")), "node")
      .select(col("node").as("doc_id"), col("deg").as("degree"), col("pr").as("pagerank"))
      .orderBy(col("pagerank").desc, col("doc_id"))
  }

  /** q97 oracle: the bit-exact LSH edge emulation + the same K unrolled
    * power-iteration rounds — identical femto-unit integer contribution
    * sums, every round rounded before the next.
    */
  lazy val pagerankDupsSql: String = {
    val rounds = (1 to PrRounds).map { r =>
      s"""q97c$r AS (
         |  SELECT e.dst, e.src, p.pr / e.deg AS c
         |  FROM q97e e JOIN q97p${r - 1} p ON p.node = e.src),
         |q97p$r AS MATERIALIZED (
         |  SELECT dst AS node,
         |    round((1 - $PrDamping) / (SELECT n FROM q97n)
         |      + $PrDamping * (sum(CAST(round(c * 1e15, 0) AS BIGINT))::DOUBLE / 1e15), 6) AS pr
         |  FROM q97c$r GROUP BY dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH q97cand AS MATERIALIZED (SELECT doc_a, doc_b FROM (${TextOps.minhashLshSql})),
       |q97ed AS (SELECT doc_a AS src, doc_b AS dst FROM q97cand
       |          UNION ALL SELECT doc_b, doc_a FROM q97cand),
       |q97d AS (SELECT src, count(*)::BIGINT AS deg FROM q97ed GROUP BY src),
       |q97e AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM q97ed e JOIN q97d d ON d.src = e.src),
       |q97n AS (SELECT count(*)::BIGINT AS n FROM q97d),
       |q97p0 AS (SELECT src AS node, round(1.0 / n, 6) AS pr FROM q97d, q97n),
       |$rounds
       |SELECT p.node AS doc_id, d.deg AS degree, p.pr AS pagerank
       |FROM q97p$PrRounds p JOIN q97d d ON d.src = p.node
       |ORDER BY pagerank DESC, doc_id""".stripMargin
  }

  // --- q158: sequence-length economics ----------------------------------------

  /** Budgets swept (tokens per training sequence). */
  val SeqLenBudgets: Seq[Long] = Seq(64L, 128L, 256L, 512L)

  /** The sequence-length decision table: for each candidate budget L, what
    * the corpus pays in TRUNCATION (docs over L, tokens lost) versus
    * PADDING (fill rate one-doc-per-sequence vs the q50-packed lower
    * bound `⌈kept/L⌉` sequences) — the economics consulted before fixing
    * a training context length: too small loses content, too large burns
    * compute on pad tokens, and packing (q50) recovers the difference.
    * Everything derives from the token-count distribution alone — no
    * packing simulation, so the sweep costs one pass however many
    * budgets are probed.
    *
    * Scale shape: one map-side token count exploded onto the fixed budget
    * list + ONE ≤|budgets|-group aggregate with map-side combine.
    * Determinism: pure integer min/max/ceiling arithmetic, two fixed
    * divide-round shapes.
    */
  def seqLenEconomics(spark: SparkSession, dir: String): DataFrame = {
    val budgets = SeqLenBudgets.map(l => s"${l}L").mkString("array(", ", ", ")")
    docs(spark, dir)
      .select(size(TextOps.toks).cast("long").as("n_tok"))
      .withColumn("seq_len", explode(expr(budgets)))
      .groupBy(col("seq_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") > col("seq_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(least(col("n_tok"), col("seq_len"))).as("tokens_kept"),
        sum(greatest(col("n_tok") - col("seq_len"), lit(0L))).as("tokens_lost"))
      .select(
        col("seq_len"),
        col("n_docs"),
        col("n_truncated"),
        col("tokens_kept"),
        col("tokens_lost"),
        expr("(tokens_kept + seq_len - 1) DIV seq_len").as("n_seqs_packed"),
        round(
          col("tokens_kept").cast("double") /
            (expr("(tokens_kept + seq_len - 1) DIV seq_len") * col("seq_len")).cast("double"),
          6).as("fill_packed"),
        round(
          col("tokens_kept").cast("double") / (col("n_docs") * col("seq_len")).cast("double"),
          6).as("fill_unpacked"))
      .orderBy(col("seq_len"))
  }

  // --- q160: water-filling fair token allocation -------------------------------

  /** Budget as a fraction of total corpus tokens (numerator/denominator —
    * integer arithmetic, no float budget).
    */
  val FairBudgetNum = 1L
  val FairBudgetDen = 2L

  /** Max-min fair (water-filling) token allocation across sources under a
    * global budget of half the corpus: every source receives
    * `min(supply_i, L)` with the water level L chosen so allocations sum
    * EXACTLY to the budget, integer remainder distributed one token each
    * to the smallest unsaturated sources in (supply, name) order. This is
    * the fairness-constrained complement of q53 (heuristic mix weights)
    * and q106 (score-greedy doc admission): when a training mix must not
    * let two mega-sources eat the whole budget, water-filling IS the
    * allocation that maximizes the minimum share — and the closed-form
    * segment search makes it exactly computable in one pass over the
    * per-source supply table, no iteration.
    *
    * Scale shape: ONE corpus aggregate to the |sources| supply grain;
    * the segment search (prefix sums + the `P_i + (n−i)·s_i ≤ B`
    * boundary), level division, and remainder spread are windows over
    * that tiny table; the 1-row level broadcasts back. Determinism: all
    * integer, ties on (supply, source), fixed divide-round for shares.
    */
  def fairAllocation(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the |sources| supply grain feeds the rank chain AND the
    // 1-row total — without it the corpus aggregates twice
    val supplies = graft.core.CacheScope.persist(
      docs(spark, dir)
        .select(col("source"), size(TextOps.toks).cast("long").as("t"))
        .groupBy(col("source"))
        .agg(sum(col("t")).as("s")))
    val tot = supplies
      .groupBy()
      .agg(sum(col("s")).as("n_total"), count(lit(1)).as("n"))
      .withColumn("budget", expr(s"n_total * $FairBudgetNum DIV $FairBudgetDen"))
    val byS = Window.orderBy(col("s"), col("source"))
    val ranked = supplies
      .withColumn("i", row_number().over(byS).cast("long"))
      .withColumn("p", sum(col("s")).over(byS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
    val istar = ranked
      .filter(col("p") + (col("n") - col("i")) * col("s") <= col("budget"))
      .groupBy()
      .agg(coalesce(max(col("i")), lit(0L)).as("istar0"))
    val lvl = ranked
      .crossJoin(broadcast(istar))
      .groupBy(col("istar0"), col("budget"), col("n"))
      .agg(coalesce(max(when(col("i") === col("istar0"), col("p"))), lit(0L)).as("p_star"))
      .select(
        col("istar0"),
        col("budget"),
        expr("(budget - p_star) DIV (n - istar0)").as("level"),
        expr("(budget - p_star) % (n - istar0)").as("rem"))
    ranked
      .select(col("source"), col("s"), col("i"))
      .crossJoin(broadcast(lvl))
      .withColumn(
        "allocation",
        when(col("i") <= col("istar0"), col("s"))
          .otherwise(
            col("level") + when(col("i") - col("istar0") <= col("rem"), 1L).otherwise(0L)))
      .select(
        col("source"),
        col("s").as("supply"),
        col("allocation"),
        (col("i") <= col("istar0")).as("saturated"),
        round(col("allocation").cast("double") / col("budget").cast("double"), 6)
          .as("share_of_budget"))
      .orderBy(col("source"))
  }

  /** q160 oracle: identical supply grain, segment search, integer level
    * and remainder-spread rules.
    */
  lazy val fairAllocationSql: String =
    s"""WITH q160s AS MATERIALIZED (
       |  SELECT source, CAST(sum(len(${TextOps.DuckToks})) AS BIGINT) AS s
       |  FROM documents GROUP BY source),
       |q160t AS (SELECT CAST(sum(s) AS BIGINT) AS n_total, count(*)::BIGINT AS n FROM q160s),
       |q160b AS (SELECT n_total * $FairBudgetNum // $FairBudgetDen AS budget, n FROM q160t),
       |q160r AS (
       |  SELECT source, s, row_number() OVER w AS i,
       |    CAST(sum(s) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
       |  FROM q160s WINDOW w AS (ORDER BY s, source)),
       |q160i AS (
       |  SELECT coalesce(max(r.i), 0) AS istar0
       |  FROM q160r r, q160b b WHERE r.p + (b.n - r.i) * r.s <= b.budget),
       |q160p AS (
       |  SELECT coalesce(max(CASE WHEN r.i = i.istar0 THEN r.p END), 0) AS p_star, i.istar0
       |  FROM q160r r, q160i i GROUP BY i.istar0),
       |q160l AS (
       |  SELECT p.istar0, (b.budget - p.p_star) // (b.n - p.istar0) AS level,
       |    (b.budget - p.p_star) % (b.n - p.istar0) AS rem, b.budget
       |  FROM q160p p, q160b b)
       |SELECT r.source, r.s AS supply,
       |  CAST(CASE WHEN r.i <= l.istar0 THEN r.s
       |    ELSE l.level + (CASE WHEN r.i - l.istar0 <= l.rem THEN 1 ELSE 0 END) END
       |    AS BIGINT) AS allocation,
       |  (r.i <= l.istar0) AS saturated,
       |  round(CAST(CASE WHEN r.i <= l.istar0 THEN r.s
       |    ELSE l.level + (CASE WHEN r.i - l.istar0 <= l.rem THEN 1 ELSE 0 END) END
       |    AS DOUBLE) / l.budget::DOUBLE, 6) AS share_of_budget
       |FROM q160r r, q160l l
       |ORDER BY r.source""".stripMargin

  // --- q215: duplicate-aware loss weighting ------------------------------------

  /** Soft-dedup accounting: every document in a verified near-dup cluster
    * gets loss weight `1/|cluster|` (singletons weight 1), and per source
    * the table reports raw vs EFFECTIVE document and token mass plus the
    * discount ratio — the "train on everything, weight by duplication"
    * alternative to q185's hard drop (down-weighting keeps coverage while
    * removing the gradient multiplier on templated text; the effective
    * token count is what the q106/q200 budget planners should consume
    * when the pipeline weights instead of drops). Cross-source clusters
    * split fractionally, so a source that is 40% re-hosted copies shows
    * its effective mass collapsing while raw counts look healthy.
    *
    * Scale shape: cluster labels are the session-shared star-contraction
    * stage (dup-rate-bounded edge list, checkpoint-truncated lineage);
    * sizes are one keyed count of THAT bounded table; the corpus sees one
    * left join on doc_id plus a ≤|sources| rollup. Weights quantize to
    * integer micro-units before the order-free sums (the q72/q163 rule);
    * long headroom: Σ round(1e6·n_tok/size) ≤ 1e6·total_tokens, safe to
    * ~9·10¹² tokens per source.
    */
  def dupWeighting(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.operators.SharedStages
      .dupLabels(spark, dir)
      .select(col("node").as("doc_id"), col("lbl"))
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("csize"))
    val withSize = labels.join(sizes, "lbl").select(col("doc_id"), col("csize"))
    docs(spark, dir)
      .select(col("doc_id"), col("source"), size(TextOps.toks).cast("long").as("n_tok"))
      .join(withSize, Seq("doc_id"), "left")
      .select(
        col("source"), col("n_tok"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csize") >= 2, 1L).otherwise(0L)).as("n_dup_members"),
        sum(expr("CAST(round(1000000.0 / csize, 0) AS BIGINT)")).as("wq"),
        sum(col("n_tok")).as("total_tokens"),
        sum(expr("CAST(round(1000000.0 * n_tok / csize, 0) AS BIGINT)")).as("tq"))
      .select(
        col("source"), col("n_docs"), col("n_dup_members"),
        round(col("wq").cast("double") / 1000000.0, 6).as("effective_docs"),
        col("total_tokens"),
        round(col("tq").cast("double") / 1000000.0, 6).as("effective_tokens"),
        when(col("total_tokens") === 0L, lit(0.0))
          .otherwise(round(col("tq").cast("double")
            / (col("total_tokens") * lit(1000000L)).cast("double"), 6))
          .as("token_discount"))
      .orderBy(col("source"))
  }

  /** Oracle: the recursive-CTE cluster labels (q47's truth), identical
    * coalesce-to-singleton sizes and micro-quantized integer sums.
    */
  lazy val dupWeightingSql: String =
    s"""WITH q215l AS MATERIALIZED (
       |  SELECT doc_id, cluster_size FROM ($dupClustersSql)),
       |q215d AS (
       |  SELECT d.source, len(${TextOps.DuckToks})::BIGINT AS n_tok,
       |    coalesce(l.cluster_size, 1)::BIGINT AS csize
       |  FROM documents d LEFT JOIN q215l l USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN csize >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_members,
       |  round(CAST(sum(CAST(round(1000000.0 / csize, 0) AS BIGINT)) AS DOUBLE)
       |    / 1000000.0, 6) AS effective_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  round(CAST(sum(CAST(round(1000000.0 * n_tok / csize, 0) AS BIGINT)) AS DOUBLE)
       |    / 1000000.0, 6) AS effective_tokens,
       |  CASE WHEN sum(n_tok) = 0 THEN 0.0
       |    ELSE round(CAST(sum(CAST(round(1000000.0 * n_tok / csize, 0) AS BIGINT)) AS DOUBLE)
       |      / (CAST(sum(n_tok) AS BIGINT) * 1000000)::DOUBLE, 6) END AS token_discount
       |FROM q215d GROUP BY source
       |ORDER BY source""".stripMargin

  // --- q159: k-anonymity audit -------------------------------------------------

  /** k thresholds the audit reports against. */
  val KThresholds: Seq[Long] = Seq(2L, 5L, 10L, 20L)

  /** Re-identification audit over the quasi-identifier combination
    * `(lang, source, n_chars DIV 100)`: for each k, how many equivalence
    * classes fall below k members and how many documents sit in them —
    * the k-anonymity readout. q48 scrubs DIRECT identifiers out of the
    * text; this measures the orthogonal channel — metadata whose
    * COMBINATION is rare enough to point at one document/author even
    * with the text clean (the governance sign-off a published corpus
    * needs: "no quasi-identifier class smaller than k"). A release
    * pipeline acts on it by generalizing (coarser buckets) or
    * suppressing the at-risk classes.
    *
    * Scale shape: ONE keyed aggregate collapses the corpus to the
    * bounded quasi-identifier grain (|langs|×|sources|×|size buckets|);
    * the k sweep explodes THAT tiny table, and the 1-row total derives
    * from it too (persisted — no second corpus scan). Determinism: pure
    * integer counts, one divide-round.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val ks = KThresholds.map(k => s"${k}L").mkString("array(", ", ", ")")
    val groups = graft.core.CacheScope.persist(
      Tables
        .documents(spark, dir)
        .groupBy(col("lang"), col("source"), expr("n_chars DIV 100").as("size_bucket"))
        .agg(count(lit(1)).as("g")))
    groups
      .withColumn("k", explode(expr(ks)))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("g") < col("k"), 1L).otherwise(0L)).as("n_groups_below"),
        sum(when(col("g") < col("k"), col("g")).otherwise(0L)).as("n_docs_at_risk"),
        min(col("g")).as("min_group_size"))
      .crossJoin(broadcast(groups.groupBy().agg(sum(col("g")).as("n_docs"))))
      .select(
        col("k"),
        col("n_groups"),
        col("n_groups_below"),
        col("n_docs_at_risk"),
        round(col("n_docs_at_risk").cast("double") / col("n_docs").cast("double"), 6)
          .as("pct_at_risk"),
        col("min_group_size"))
      .orderBy(col("k"))
  }

  /** q159 oracle: identical quasi-identifier grain, k explode, and
    * conditional rollups.
    */
  lazy val kAnonymitySql: String = {
    val ks = KThresholds.mkString("[", ", ", "]")
    s"""WITH q159g AS MATERIALIZED (
       |  SELECT lang, source, n_chars // 100 AS size_bucket, count(*)::BIGINT AS g
       |  FROM documents GROUP BY 1, 2, 3),
       |q159n AS (SELECT CAST(sum(g) AS BIGINT) AS n_docs FROM q159g),
       |q159k AS (SELECT unnest($ks)::BIGINT AS k)
       |SELECT k.k,
       |  count(*)::BIGINT AS n_groups,
       |  CAST(sum(CASE WHEN g.g < k.k THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
       |  CAST(sum(CASE WHEN g.g < k.k THEN g.g ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
       |  round(CAST(sum(CASE WHEN g.g < k.k THEN g.g ELSE 0 END) AS DOUBLE)
       |    / n.n_docs::DOUBLE, 6) AS pct_at_risk,
       |  CAST(min(g.g) AS BIGINT) AS min_group_size
       |FROM q159g g, q159k k, q159n n
       |GROUP BY k.k, n.n_docs
       |ORDER BY k.k""".stripMargin
  }

  // --- q229: t-closeness audit ---------------------------------------------------

  /** Total-variation trip level — shared with the E57 stream tripwire. */
  val TclosenessT = 0.3

  /** t-closeness audit (Li et al. 2007), completing the batch privacy
    * trio (q159 k-anonymity watches class SIZE, q175 l-diversity class
    * VALUE COUNT, this class COMPOSITION): for every quasi-identifier
    * class `(source, n_chars DIV 100)`, the total-variation distance
    * between its sensitive-attribute (lang) distribution and the corpus
    * baseline, plus the exact `tvd > t = 0.3` verdict — the breach
    * l-diversity misses when a class has many distinct values but a
    * heavily skewed mix (a rare-language concentration points at a
    * community even though k and l both pass). E57 is this audit's live
    * leg on arriving windows; this is the corpus certificate a release
    * sign-off cites.
    *
    * Scale shape: ONE corpus scan collapses to the (QI, lang) cell grain
    * (bounded: |sources| × size-buckets × |langs|); the baseline, class
    * totals, and the zero-fill grid all derive from that persisted cell
    * table (no second scan); the TVD numerator `Σ_v |k_v·N − g_v·n_c|`
    * folds per class in DECIMAL(38,0) (cross-products overflow a long
    * once class counts × corpus size pass ~10¹⁸), and the verdict is the
    * EXACT integer cross-multiplication `10·numer > 2·3·n_c·N` — no
    * float ever decides it. One display divide-round for the tvd column.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.core.CacheScope.persist(
      Tables
        .documents(spark, dir)
        .groupBy(col("source"), expr("n_chars DIV 100").as("size_bucket"), col("lang"))
        .agg(count(lit(1)).as("k")))
    val baseline = cells.groupBy(col("lang")).agg(sum(col("k")).as("g"))
    val total = baseline.groupBy().agg(sum(col("g")).as("bign"))
    val classes = cells
      .groupBy(col("source"), col("size_bucket"))
      .agg(sum(col("k")).as("n_c"))
    classes
      .crossJoin(broadcast(baseline))
      .join(cells, Seq("source", "size_bucket", "lang"), "left")
      .crossJoin(broadcast(total))
      .select(
        col("source"), col("size_bucket"), col("n_c"), col("bign"),
        col("g"), coalesce(col("k"), lit(0L)).as("kv"))
      .groupBy(col("source"), col("size_bucket"), col("n_c"), col("bign"))
      .agg(sum(expr("abs(CAST(kv AS DECIMAL(38,0)) * bign - CAST(g AS DECIMAL(38,0)) * n_c)"))
        .as("numer"))
      .select(
        col("source"), col("size_bucket"), col("n_c"),
        round(col("numer").cast("double")
          / (lit(2.0) * col("n_c").cast("double") * col("bign").cast("double")), 6)
          .as("tvd"),
        expr("10 * numer > CAST(2 * 3 * n_c AS DECIMAL(38,0)) * bign").as("violates"))
      .orderBy(col("source"), col("size_bucket"))
  }

  /** q229 oracle: identical cell/baseline/grid derivation, HUGEINT
    * cross-multiplied numerator, and the same exact integer verdict.
    */
  lazy val tClosenessSql: String =
    """WITH q229c AS MATERIALIZED (
      |  SELECT source, n_chars // 100 AS size_bucket, lang, count(*)::BIGINT AS k
      |  FROM documents GROUP BY 1, 2, 3),
      |q229b AS (SELECT lang, CAST(sum(k) AS BIGINT) AS g FROM q229c GROUP BY 1),
      |q229n AS (SELECT CAST(sum(g) AS BIGINT) AS bign FROM q229b),
      |q229g AS (SELECT source, size_bucket, CAST(sum(k) AS BIGINT) AS n_c
      |          FROM q229c GROUP BY 1, 2),
      |q229t AS (
      |  SELECT cl.source, cl.size_bucket, cl.n_c, n.bign,
      |    sum(abs(coalesce(ce.k, 0)::HUGEINT * n.bign - b.g::HUGEINT * cl.n_c)) AS numer
      |  FROM q229g cl
      |  CROSS JOIN q229b b
      |  LEFT JOIN q229c ce ON ce.source = cl.source
      |    AND ce.size_bucket = cl.size_bucket AND ce.lang = b.lang
      |  CROSS JOIN q229n n
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source, size_bucket, n_c,
      |  round(CAST(numer AS DOUBLE)
      |    / (2.0 * CAST(n_c AS DOUBLE) * CAST(bign AS DOUBLE)), 6) AS tvd,
      |  10 * numer > (2 * 3 * n_c)::HUGEINT * bign AS violates
      |FROM q229t
      |ORDER BY source, size_bucket""".stripMargin

  // --- q185: dedup token-yield report ------------------------------------------

  /** Dedup token-yield report — the headline table a dedup campaign
    * publishes: per source (+ `_ALL`) the raw doc/token counts and what
    * survives each keeper INDEPENDENTLY (q156's ablation discipline, not
    * a sequential funnel): exact dedup (q20's min-doc-per-md5 rule) and
    * fuzzy-cluster keep (q47's component labels, keeper = the min-id
    * label itself — the convention q166's authority scores corroborate),
    * plus each gate's token yield. Token counts, not doc counts, are the
    * currency — a source whose doc yield looks fine can still lose half
    * its TOKENS when its big documents are the duplicated ones, and
    * (token_yield_exact − token_yield_fuzzy) prices what the fuzzy pass
    * adds over hash dedup, per source.
    *
    * Scale shape: ONE corpus projection to (doc, source, md5, tokens)
    * (persisted); the exact keeper is a keyed min, the fuzzy keeper
    * joins the session-shared star-contraction labels (dup-rate
    * bounded); both rollups ride the flagged table. Determinism: longs
    * + two divide-rounds per row.
    */
  def dedupYield(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.CacheScope.persist(
      docs(spark, dir).select(
        col("doc_id"),
        col("source"),
        md5(col("text")).as("h"),
        size(TextOps.toks).cast("long").as("t")))
    val exactKeep = base.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val fuzzy = SharedStages
      .dupLabels(spark, dir)
      .select(col("node").as("doc_id"), col("lbl"))
    val flagged = base
      .join(exactKeep, Seq("h"))
      .withColumn("ek", col("doc_id") === col("keep_id"))
      .join(fuzzy, Seq("doc_id"), "left")
      .withColumn("fk", col("lbl").isNull || col("doc_id") === col("lbl"))
    def roll(key: Column) = flagged
      .groupBy(key.as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_tokens"),
        sum(when(col("ek"), 1L).otherwise(0L)).as("n_docs_exact"),
        coalesce(sum(when(col("ek"), col("t"))), lit(0L)).as("n_tokens_exact"),
        sum(when(col("fk"), 1L).otherwise(0L)).as("n_docs_fuzzy"),
        coalesce(sum(when(col("fk"), col("t"))), lit(0L)).as("n_tokens_fuzzy"))
    roll(col("source"))
      .unionByName(roll(lit("_ALL")))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens"),
        col("n_docs_exact"),
        col("n_tokens_exact"),
        col("n_docs_fuzzy"),
        col("n_tokens_fuzzy"),
        when(col("n_tokens") > 0,
          round(col("n_tokens_exact").cast("double") / col("n_tokens").cast("double"), 6))
          .as("token_yield_exact"),
        when(col("n_tokens") > 0,
          round(col("n_tokens_fuzzy").cast("double") / col("n_tokens").cast("double"), 6))
          .as("token_yield_fuzzy"))
      .orderBy(col("source"))
  }

  /** q185 oracle: the engine-exact q47 label statement embedded, q20's
    * md5 keeper, identical rollups and divide shapes.
    */
  lazy val dedupYieldSql: String = {
    def leg(key: String) =
      s"""SELECT $key AS source, count(*)::BIGINT AS n_docs,
         |  CAST(sum(t) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN ek THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_exact,
         |  CAST(coalesce(sum(CASE WHEN ek THEN t END), 0) AS BIGINT) AS n_tokens_exact,
         |  CAST(sum(CASE WHEN fk THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_fuzzy,
         |  CAST(coalesce(sum(CASE WHEN fk THEN t END), 0) AS BIGINT) AS n_tokens_fuzzy,
         |  CASE WHEN sum(t) > 0 THEN
         |    round(coalesce(sum(CASE WHEN ek THEN t END), 0)::DOUBLE / sum(t)::DOUBLE, 6)
         |  END AS token_yield_exact,
         |  CASE WHEN sum(t) > 0 THEN
         |    round(coalesce(sum(CASE WHEN fk THEN t END), 0)::DOUBLE / sum(t)::DOUBLE, 6)
         |  END AS token_yield_fuzzy
         |FROM q185x ${if (key == "source") "GROUP BY source" else ""}""".stripMargin
    s"""WITH q185b AS MATERIALIZED (
       |  SELECT doc_id, source, md5(text) AS h,
       |    len(${TextOps.DuckToks})::BIGINT AS t
       |  FROM documents),
       |q185e AS (SELECT h, min(doc_id) AS keep_id FROM q185b GROUP BY h),
       |q185f AS MATERIALIZED (SELECT doc_id, cluster_id AS lbl FROM ($dupClustersSql)),
       |q185x AS (
       |  SELECT b.doc_id, b.source, b.t,
       |    b.doc_id = e.keep_id AS ek,
       |    (f.lbl IS NULL OR b.doc_id = f.lbl) AS fk
       |  FROM q185b b JOIN q185e e USING (h)
       |  LEFT JOIN q185f f ON f.doc_id = b.doc_id)
       |SELECT * FROM ((${leg("source")}) UNION ALL (${leg("'_ALL'")}))
       |ORDER BY source""".stripMargin
  }

  // --- q187: dedup selection-bias audit ----------------------------------------

  /** Dedup selection-bias audit — the distribution question q185's yield
    * table doesn't answer: dedup never drops uniformly, and if the fuzzy
    * keeper systematically removes LONGER documents (mirrored articles,
    * templated boilerplate runs long) the surviving corpus drifts short
    * even at healthy yield. Per source (+ `_ALL`), under q47's component
    * keeper: kept/dropped doc counts, each side's mean chars and mean
    * tokens, and the char/token deltas (kept − dropped) — a large
    * negative delta says the pass is eating the long tail, the input to
    * re-checking q181's mass quantiles AFTER dedup rather than before.
    *
    * Scale shape: q185's flagged projection (ONE corpus pass + the
    * session-shared labels); both rollups ride it. Determinism: integer
    * sums, one divide-round per mean, delta as one subtract of the two
    * divides; sources with nothing dropped yield NULL dropped-side stats.
    */
  def dedupBias(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.core.CacheScope.persist(
      docs(spark, dir).select(
        col("doc_id"),
        col("source"),
        col("n_chars"),
        size(TextOps.toks).cast("long").as("t")))
    val fuzzy = SharedStages
      .dupLabels(spark, dir)
      .select(col("node").as("doc_id"), col("lbl"))
    val flagged = base
      .join(fuzzy, Seq("doc_id"), "left")
      .withColumn("fk", col("lbl").isNull || col("doc_id") === col("lbl"))
    def mean(s: Column, n: Column) =
      when(n > 0, round(s.cast("double") / n.cast("double"), 6))
    def roll(key: Column) = flagged
      .groupBy(key.as("source"))
      .agg(
        sum(when(col("fk"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("fk"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("fk"), col("n_chars"))), lit(0L)).as("ck"),
        coalesce(sum(when(!col("fk"), col("n_chars"))), lit(0L)).as("cd"),
        coalesce(sum(when(col("fk"), col("t"))), lit(0L)).as("tk"),
        coalesce(sum(when(!col("fk"), col("t"))), lit(0L)).as("td"))
    roll(col("source"))
      .unionByName(roll(lit("_ALL")))
      .select(
        col("source"),
        col("n_kept"),
        col("n_dropped"),
        mean(col("ck"), col("n_kept")).as("mean_chars_kept"),
        mean(col("cd"), col("n_dropped")).as("mean_chars_dropped"),
        when(col("n_kept") > 0 && col("n_dropped") > 0,
          round(col("ck").cast("double") / col("n_kept").cast("double") -
            col("cd").cast("double") / col("n_dropped").cast("double"), 6))
          .as("delta_chars"),
        mean(col("tk"), col("n_kept")).as("mean_tokens_kept"),
        mean(col("td"), col("n_dropped")).as("mean_tokens_dropped"),
        when(col("n_kept") > 0 && col("n_dropped") > 0,
          round(col("tk").cast("double") / col("n_kept").cast("double") -
            col("td").cast("double") / col("n_dropped").cast("double"), 6))
          .as("delta_tokens"))
      .orderBy(col("source"))
  }

  /** q187 oracle: the embedded q47 label statement + identical rollups
    * and divide/subtract shapes.
    */
  lazy val dedupBiasSql: String = {
    def leg(key: String) =
      s"""SELECT $key AS source,
         |  CAST(sum(CASE WHEN fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN fk THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  CAST(coalesce(sum(CASE WHEN fk THEN n_chars END), 0) AS BIGINT) AS ck,
         |  CAST(coalesce(sum(CASE WHEN NOT fk THEN n_chars END), 0) AS BIGINT) AS cd,
         |  CAST(coalesce(sum(CASE WHEN fk THEN t END), 0) AS BIGINT) AS tk,
         |  CAST(coalesce(sum(CASE WHEN NOT fk THEN t END), 0) AS BIGINT) AS td
         |FROM q187x ${if (key == "source") "GROUP BY source" else ""}""".stripMargin
    s"""WITH q187b AS MATERIALIZED (
       |  SELECT doc_id, source, n_chars, len(${TextOps.DuckToks})::BIGINT AS t
       |  FROM documents),
       |q187f AS MATERIALIZED (SELECT doc_id, cluster_id AS lbl FROM ($dupClustersSql)),
       |q187x AS (
       |  SELECT b.doc_id, b.source, b.n_chars, b.t,
       |    (f.lbl IS NULL OR b.doc_id = f.lbl) AS fk
       |  FROM q187b b LEFT JOIN q187f f ON f.doc_id = b.doc_id),
       |q187r AS ((${leg("source")}) UNION ALL (${leg("'_ALL'")}))
       |SELECT source, n_kept, n_dropped,
       |  CASE WHEN n_kept > 0 THEN round(ck::DOUBLE / n_kept::DOUBLE, 6) END AS mean_chars_kept,
       |  CASE WHEN n_dropped > 0 THEN round(cd::DOUBLE / n_dropped::DOUBLE, 6) END AS mean_chars_dropped,
       |  CASE WHEN n_kept > 0 AND n_dropped > 0 THEN
       |    round(ck::DOUBLE / n_kept::DOUBLE - cd::DOUBLE / n_dropped::DOUBLE, 6)
       |  END AS delta_chars,
       |  CASE WHEN n_kept > 0 THEN round(tk::DOUBLE / n_kept::DOUBLE, 6) END AS mean_tokens_kept,
       |  CASE WHEN n_dropped > 0 THEN round(td::DOUBLE / n_dropped::DOUBLE, 6) END AS mean_tokens_dropped,
       |  CASE WHEN n_kept > 0 AND n_dropped > 0 THEN
       |    round(tk::DOUBLE / n_kept::DOUBLE - td::DOUBLE / n_dropped::DOUBLE, 6)
       |  END AS delta_tokens
       |FROM q187r ORDER BY source""".stripMargin
  }

  // --- q179: dup-graph degree assortativity ------------------------------------

  /** Degree assortativity of the undirected near-dup candidate graph —
    * ONE number that says whether duplication is STARS or CLIQUES:
    * strongly negative r (high-degree originals attached to degree-1
    * copies) is the healthy boilerplate/mirror shape where q56's
    * keep-the-center selection works cleanly; r near 0/positive says
    * high-degree nodes attach to each other — template families chaining
    * into one giant component, the input that makes q47's contraction
    * produce mega-clusters and q118's k-core prune-worthy. q97/q166
    * rank individual nodes; q136 counts components; q179 classifies the
    * TOPOLOGY, the first number to read before choosing a canonical-
    * selection policy. Also reports edge/node counts and the degree mean
    * and max.
    *
    * Scale shape: edges are the session-shared bucket-bounded stage
    * (never corpus²); degrees are one node-keyed aggregate; the Pearson
    * legs are exact integer sums over both edge orientations (q171's
    * moment discipline — symmetric, so sy=sx, syy=sxx), folded to ONE
    * row. Determinism: integers until the single
    * num/(sqrt·sqrt) float shape, 6-dp rounded; a degree-regular graph
    * (zero variance) yields NULL r.
    */
  def dupAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(graft.core.CacheScope.persist(
      SharedStages.minhashEdges(spark, dir).select(col("doc_a"), col("doc_b"))))

  private[graft] def assortativityOf(edges: DataFrame): DataFrame = {
    val deg = edges
      .select(col("doc_a").as("node"))
      .unionAll(edges.select(col("doc_b").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("d"))
    val paired = edges
      .join(deg.select(col("node").as("doc_a"), col("d").as("da")), Seq("doc_a"))
      .join(deg.select(col("node").as("doc_b"), col("d").as("db")), Seq("doc_b"))
    val stats = paired
      .groupBy()
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("db") * lit(2L)).as("sxy"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
        max(greatest(col("da"), col("db"))).as("max_degree"))
      .crossJoin(broadcast(deg.groupBy().agg(
        count(lit(1)).as("n_nodes"), sum(col("d")).as("sd"))))
    val n   = stats("n_edges") * lit(2L)
    val num = (n * col("sxy") - col("sx") * col("sx")).cast("double")
    val v   = n * col("sxx") - col("sx") * col("sx")
    stats.select(
      col("n_edges"),
      col("n_nodes"),
      round(col("sd").cast("double") / col("n_nodes").cast("double"), 6).as("mean_degree"),
      col("max_degree"),
      when(v > 0, round(num / (sqrt(v.cast("double")) * sqrt(v.cast("double"))), 6))
        .as("assortativity"))
  }

  /** q179 oracle: the engine-exact q25 pair statement + identical degree
    * sums and the same num/(sqrt·sqrt) shape.
    */
  lazy val dupAssortativitySql: String =
    s"""WITH q179e AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM (${TextOps.minhashLshSql})),
       |q179d AS (
       |  SELECT node, count(*)::BIGINT AS d FROM (
       |    SELECT doc_a AS node FROM q179e UNION ALL SELECT doc_b FROM q179e)
       |  GROUP BY node),
       |q179p AS (
       |  SELECT e.doc_a, e.doc_b, a.d AS da, b.d AS db
       |  FROM q179e e JOIN q179d a ON a.node = e.doc_a JOIN q179d b ON b.node = e.doc_b),
       |q179s AS (
       |  SELECT count(*)::BIGINT AS n_edges,
       |    CAST(sum(da + db) AS BIGINT) AS sx,
       |    CAST(sum(da * db * 2) AS BIGINT) AS sxy,
       |    CAST(sum(da * da + db * db) AS BIGINT) AS sxx,
       |    CAST(max(greatest(da, db)) AS BIGINT) AS max_degree
       |  FROM q179p),
       |q179n AS (SELECT count(*)::BIGINT AS n_nodes, CAST(sum(d) AS BIGINT) AS sd FROM q179d)
       |SELECT s.n_edges, n.n_nodes,
       |  round(n.sd::DOUBLE / n.n_nodes::DOUBLE, 6) AS mean_degree,
       |  s.max_degree,
       |  CASE WHEN s.n_edges * 2 * s.sxx - s.sx * s.sx > 0 THEN
       |    round((s.n_edges * 2 * s.sxy - s.sx * s.sx)::DOUBLE
       |      / (sqrt((s.n_edges * 2 * s.sxx - s.sx * s.sx)::DOUBLE)
       |         * sqrt((s.n_edges * 2 * s.sxx - s.sx * s.sx)::DOUBLE)), 6)
       |  END AS assortativity
       |FROM q179s s CROSS JOIN q179n n""".stripMargin

  // --- q175: l-diversity audit -------------------------------------------------

  /** l thresholds the diversity audit reports against. */
  val LThresholds: Seq[Long] = Seq(2L, 3L, 5L)

  /** l-diversity audit over q159's quasi-identifier classes with the
    * embedding label as the sensitive attribute: k-anonymity (q159) only
    * bounds how many records share a metadata combination — if all k of
    * them carry the SAME sensitive value, membership in the class still
    * discloses it (the homogeneity attack l-diversity exists to catch).
    * For each l: equivalence classes whose distinct-label count falls
    * below l, the documents in them, and the count of fully HOMOGENEOUS
    * classes (l = 1 — disclosure even at high k). Run beside q159 before
    * release sign-off; the release pipeline generalizes or suppresses the
    * failing classes.
    *
    * Scale shape: the doc↔vec equi-join is the shuffle the production
    * pipeline pays anyway (q168 audits its integrity); ONE keyed
    * aggregate collapses it to the bounded quasi-identifier grain with an
    * exact distinct-label count (two-phase, grain ≤ |langs|·|sources|·
    * |size buckets|); the l sweep explodes THAT tiny table. Pure integer
    * counts, one divide-round.
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val ls = LThresholds.map(l => s"${l}L").mkString("array(", ", ", ")")
    val groups = graft.core.CacheScope.persist(
      Tables
        .documents(spark, dir)
        .join(
          Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"), col("label")),
          Seq("doc_id"))
        .groupBy(col("lang"), col("source"), expr("n_chars DIV 100").as("size_bucket"))
        .agg(count(lit(1)).as("g"), countDistinct(col("label")).as("l")))
    groups
      .withColumn("lmin", explode(expr(ls)))
      .groupBy(col("lmin"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("l") < col("lmin"), 1L).otherwise(0L)).as("n_groups_below"),
        sum(when(col("l") < col("lmin"), col("g")).otherwise(0L)).as("n_docs_at_risk"),
        sum(when(col("l") === 1L, 1L).otherwise(0L)).as("n_homogeneous"),
        min(col("l")).as("min_diversity"))
      .crossJoin(broadcast(groups.groupBy().agg(sum(col("g")).as("n_docs"))))
      .select(
        col("lmin"),
        col("n_groups"),
        col("n_groups_below"),
        col("n_docs_at_risk"),
        round(col("n_docs_at_risk").cast("double") / col("n_docs").cast("double"), 6)
          .as("pct_at_risk"),
        col("n_homogeneous"),
        col("min_diversity"))
      .orderBy(col("lmin"))
  }

  /** q175 oracle: identical join grain, exact distinct-label counts, l
    * explode, and conditional rollups.
    */
  lazy val lDiversitySql: String = {
    val ls = LThresholds.mkString("[", ", ", "]")
    s"""WITH q175g AS MATERIALIZED (
       |  SELECT d.lang, d.source, d.n_chars // 100 AS size_bucket,
       |    count(*)::BIGINT AS g, count(DISTINCT e.label)::BIGINT AS l
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  GROUP BY 1, 2, 3),
       |q175n AS (SELECT CAST(sum(g) AS BIGINT) AS n_docs FROM q175g),
       |q175l AS (SELECT unnest($ls)::BIGINT AS lmin)
       |SELECT k.lmin,
       |  count(*)::BIGINT AS n_groups,
       |  CAST(sum(CASE WHEN g.l < k.lmin THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
       |  CAST(sum(CASE WHEN g.l < k.lmin THEN g.g ELSE 0 END) AS BIGINT) AS n_docs_at_risk,
       |  round(CAST(sum(CASE WHEN g.l < k.lmin THEN g.g ELSE 0 END) AS DOUBLE)
       |    / n.n_docs::DOUBLE, 6) AS pct_at_risk,
       |  CAST(sum(CASE WHEN g.l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous,
       |  CAST(min(g.l) AS BIGINT) AS min_diversity
       |FROM q175g g, q175l k, q175n n
       |GROUP BY k.lmin, n.n_docs
       |ORDER BY k.lmin""".stripMargin
  }

  /** q158 oracle: identical budget explode, integer min/max/ceiling, and
    * divide-round shapes.
    */
  lazy val seqLenEconomicsSql: String = {
    val budgets = SeqLenBudgets.mkString("[", ", ", "]")
    s"""WITH q158t AS (
       |  SELECT len(${TextOps.DuckToks})::BIGINT AS n_tok FROM documents),
       |q158e AS (
       |  SELECT b.seq_len, t.n_tok
       |  FROM q158t t, (SELECT unnest($budgets)::BIGINT AS seq_len) b),
       |q158a AS (
       |  SELECT seq_len, count(*)::BIGINT AS n_docs,
       |    CAST(sum(CASE WHEN n_tok > seq_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
       |    CAST(sum(least(n_tok, seq_len)) AS BIGINT) AS tokens_kept,
       |    CAST(sum(greatest(n_tok - seq_len, 0)) AS BIGINT) AS tokens_lost
       |  FROM q158e GROUP BY seq_len)
       |SELECT seq_len, n_docs, n_truncated, tokens_kept, tokens_lost,
       |  CAST((tokens_kept + seq_len - 1) // seq_len AS BIGINT) AS n_seqs_packed,
       |  round(tokens_kept::DOUBLE /
       |    (((tokens_kept + seq_len - 1) // seq_len) * seq_len)::DOUBLE, 6) AS fill_packed,
       |  round(tokens_kept::DOUBLE / (n_docs * seq_len)::DOUBLE, 6) AS fill_unpacked
       |FROM q158a
       |ORDER BY seq_len""".stripMargin
  }

  // --- q189: content-defined chunk dedup (CDC) -------------------------------

  /** Rolling window width (codepoints) of the CDC boundary hash. */
  val CdcWindow = 8

  /** Expected boundary rate: 1 in [[CdcMask]]+1 positions → mean chunk
    * ≈ 64 chars. */
  val CdcMask = 63L

  /** Polynomial base; powers 31⁰..31⁷ stay exact in BIGINT. */
  val CdcBase = 31L

  private val CdcPows: Seq[Long] =
    Seq.iterate(1L, CdcWindow)(_ * CdcBase)

  /** Content-defined chunking dedup — the insertion-robust complement of
    * q80/q81's fixed-width chunk dedup: chunk boundaries are a pure
    * function of LOCAL CONTENT (a rolling polynomial hash over the last
    * [[CdcWindow]] codepoints; boundary where the mixed hash's bits
    * 20–25 are zero → 1-in-64 rate, ~64-char mean chunks), so inserting
    * a sentence into a document shifts every fixed-width window but
    * leaves all OTHER content-defined chunks byte-identical — the
    * property that lets chunk-level dedup survive edits, the reason
    * FastCDC-family chunking is the backbone of storage dedup and the
    * right grain for catching re-posted-with-a-preamble training text.
    * Per doc: chunk count and the share of its bytes living in chunks
    * already OWNED by an earlier doc (q51's min-owner rule at the chunk
    * grain).
    *
    * Scale shape: boundary detection and chunk extraction are per-row
    * HOF folds over the codepoint array (map-side, no shuffle); the
    * owner resolution is q51's groupBy-min on the chunk hash + one
    * equi-join back — never a window over the hash partition, so a
    * boilerplate chunk shared by millions of docs combines map-side.
    * Determinism: the rolling sum, the 2654435761 multiplicative mix
    * and the bit-slice test are exact 64-bit integer arithmetic on
    * codepoints — identical in both engines; chunk identity is md5 over
    * the chunk's UTF-8 bytes.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(docs(spark, dir))

  private[graft] def cdcChunksOf(corpus: DataFrame): DataFrame = {
    // boundary scan + chunk slicing as ONE compiled call per row
    // (graft.functions.Expressions.CdcChunks) — the higher-order
    // formulation of the same arithmetic evaluated ~8 interpreted
    // lambdas per codepoint (q60/q64's WinnowFps lesson)
    val chunks = corpus
      .select(col("doc_id"),
        explode(graft.functions.Expressions.cdc_chunks(col("text"))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk").cast("binary")).as("h"),
        length(col("chunk")).cast("long").as("clen"))
    val cached = graft.core.CacheScope.persist(chunks)
    val owners = cached.groupBy(col("h")).agg(min(col("doc_id")).as("owner"))
    cached
      .join(owners, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("n_chars"),
        sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("owner") < col("doc_id"), col("clen")).otherwise(0L)).as("dup_chars"))
      .select(
        col("doc_id"),
        col("n_chunks"),
        col("n_chars"),
        col("dup_chunks"),
        col("dup_chars"),
        round(col("dup_chars").cast("double") / col("n_chars").cast("double"), 4)
          .as("cdc_dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q189 oracle: the same codepoint array, the same exact integer
    * rolling-sum → mix → bit-slice boundary rule (DuckDB BIGINT
    * arithmetic is exact at these magnitudes), identical cut/chunk
    * extraction, md5 chunk identity and min-owner rule.
    */
  /** The q189 chunk-extraction CTE chain (codepoints → boundary scan →
    * cuts → md5 chunk grain `q189k(keys..., h, clen)`), parameterized by
    * the key columns carried through — shared by q189 and q198.
    */
  private def cdcChunkCtes(keys: Seq[String]): Seq[(String, String)] = {
    val w    = CdcWindow
    val pows = CdcPows.mkString("[", ", ", "]")
    val ks   = keys.mkString(", ")
    Seq(
      "q189cs" ->
        s"""(SELECT $ks, text, length(text) AS n,
           |   list_transform(string_split(text, ''), c -> ord(c)::BIGINT) AS cs
           | FROM documents)""".stripMargin,
      "q189b" ->
        s"""(SELECT $ks, text, n,
           |   CASE WHEN n < $w THEN []
           |   ELSE list_filter(
           |     list_transform(generate_series($w, n), i ->
           |       CASE WHEN ((list_reduce(list_prepend(0::BIGINT,
           |                list_transform(range(0, $w), j -> cs[i - j] * ($pows)[j + 1])),
           |              (a, b) -> a + b)
           |            % 1048576) * 2654435761 % 4294967296) // 1048576 % ${CdcMask + 1} = 0
           |         THEN i END),
           |     x -> x IS NOT NULL)
           |   END AS bnds
           | FROM q189cs)""".stripMargin,
      "q189c" ->
        s"""(SELECT $ks, text, n,
           |   list_concat(list_concat([0::BIGINT], bnds),
           |     CASE WHEN len(bnds) = 0 OR bnds[-1] <> n THEN [n] ELSE [] END) AS cuts
           | FROM q189b)""".stripMargin,
      "q189k" ->
        s"""(SELECT $ks, md5(chunk) AS h, length(chunk)::BIGINT AS clen
           | FROM (SELECT $ks,
           |     unnest(list_transform(generate_series(1, len(cuts) - 1),
           |       k -> text[cuts[k] + 1 : cuts[k + 1]])) AS chunk
           |   FROM q189c WHERE n >= 1))""".stripMargin
    )
  }

  lazy val cdcChunksSql: String = {
    import graft.functions.DuckHash._
    val ctes = cdcChunkCtes(Seq("doc_id")) :+ ("q189o" ->
      "(SELECT *, min(doc_id) OVER (PARTITION BY h) AS owner FROM q189k)")
    assemble(
      ctes,
      """SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |  CAST(sum(clen) AS BIGINT) AS n_chars,
        |  CAST(sum(CASE WHEN owner < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |  CAST(sum(CASE WHEN owner < doc_id THEN clen ELSE 0 END) AS BIGINT) AS dup_chars,
        |  round(sum(CASE WHEN owner < doc_id THEN clen ELSE 0 END)::DOUBLE
        |    / sum(clen)::DOUBLE, 4) AS cdc_dup_ratio
        |FROM q189o GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)
  }

  // --- q193: differentially-private histogram release -----------------------
  val DpBucketWidth = 64L

  /** DP noisy-count release of the (source, length-bucket) histogram — the
    * privacy-preserving publication step after q48 (scrub), q159
    * (k-anonymity) and q175 (l-diversity) have gated the rows themselves:
    * unit-count cells get Laplace(Δ/ε) noise (Δ=1 for a disjoint
    * histogram) at a strict ε=0.5 and a loose ε=2.0, released beside the
    * true count and per-ε absolute error — the utility table a data-card
    * publisher reads to pick the budget ("is ε=0.5 still useful at this
    * cell mass?").
    *
    * The draw is DERIVED, not sampled: u = uniform from
    * `xxhash64(source, len_bucket)` (the q67 bit-pattern trick), then the
    * standard inverse-CDF Laplace `−b·sgn(u−½)·ln(1−2|u−½|)` — so the
    * release is reproducible on any cluster/partitioning/re-run, and the
    * oracle can replay it exactly (each ε-leg rounds ONCE from the raw ln
    * — pre-rounding t to 6 dp would park t/2 exactly on a rounding
    * half-point; the same u serves both ε's as a pure scale family). NOTE
    * the derived
    * draw is the AUDIT variant: a production release would use a sealed
    * RNG so the noise is unpredictable — same plan, different u.
    *
    * Scale shape: ONE map-side-combined groupBy count; noise is a pure
    * projection on the bounded |sources|·buckets cell grid. Nothing else
    * touches the corpus.
    */
  /** u ∈ (0,1) from a 64-bit hash column — the q67 bit-pattern trick,
    * written in the exact op order the oracles replay.
    */
  private[graft] def hashUniform(h: String): Column =
    expr(s"((cast($h as double) + 9.223372036854775808e18) + 0.5) / 1.8446744073709551616e19")

  /** Laplace(1/ε) draw from uniform column `u` by inverse CDF — rounds
    * ONCE from the raw ln per ε (pre-rounding the ln parks t/ε exactly on
    * a rounding half-point). Shared by batch q193 and streaming E48.
    */
  private[graft] def lapNoise(u: String, eps: Double): Column =
    expr(s"round(-signum($u - 0.5) * ln(1 - 2 * abs($u - 0.5)) / $eps, 6)")

  def dpHistogram(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("source"), expr(s"n_chars div $DpBucketWidth").as("len_bucket"))
      .agg(count(lit(1)).as("c_true"))
      .withColumn("u", hashUniform("xxhash64(source, len_bucket)"))
      .withColumn("n05", lapNoise("u", 0.5))
      .withColumn("n20", lapNoise("u", 2.0))
      .select(
        col("source"),
        col("len_bucket"),
        col("c_true"),
        expr("round(c_true + n05, 6)").as("noisy_e05"),
        expr("round(c_true + n20, 6)").as("noisy_e20"),
        expr("round(abs(n05), 6)").as("abs_err_e05"),
        expr("round(abs(n20), 6)").as("abs_err_e20"))
      .orderBy(col("source"), col("len_bucket"))

  /** Oracle: the same XXH64(string, long) chain (bytes chain seeded 42,
    * then a long level seeded by it — Spark's multi-arg xxhash64 fold),
    * same u bit-pattern, same rounded-ln Laplace inverse CDF. Spark `div`
    * truncates where DuckDB `//` floors; n_chars is non-negative so they
    * agree (the q80 rule).
    */
  lazy val dpHistogramSql: String = {
    import graft.functions.DuckHash._
    val ctes = ArrayBuffer[(String, String)](
      "q193c" ->
        s"""(SELECT source, n_chars // $DpBucketWidth AS len_bucket, count(*)::BIGINT AS c_true
           |  FROM documents GROUP BY 1, 2)""".stripMargin,
      "q193b" -> s"(SELECT source, len_bucket, c_true, ${bytesOf("source")} AS b FROM q193c)"
    )
    val hb = hashBytesChain("q193hs", "q193b", Seq("source", "len_bucket", "c_true"), "42", "hs")
    hashLongLevels(hb, "len_bucket::HUGEINT", "hs", "h")
    ctes ++= hb.ctes
    ctes += ("q193u" ->
      s"""(SELECT source, len_bucket, c_true,
         |    ((CAST(${toSigned("h")} AS DOUBLE) + 9.223372036854775808e18) + 0.5)
         |      / 1.8446744073709551616e19 AS u
         |  FROM ${hb.last})""".stripMargin)
    ctes += ("q193n" ->
      """(SELECT source, len_bucket, c_true,
        |    round(-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) / 0.5, 6) AS n05,
        |    round(-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)) / 2.0, 6) AS n20
        |  FROM q193u)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT source, len_bucket, c_true,
        |  round(c_true + n05, 6) AS noisy_e05,
        |  round(c_true + n20, 6) AS noisy_e20,
        |  round(abs(n05), 6) AS abs_err_e05,
        |  round(abs(n20), 6) AS abs_err_e20
        |FROM q193n
        |ORDER BY source, len_bucket""".stripMargin)
  }

  // --- q198: CDC incremental-sync planner ------------------------------------

  /** Incremental-transfer plan between corpus snapshots over the
    * content-defined chunk store — the systems question q189's dup table
    * sets up: yesterday's snapshot (the `xxhash64(doc_id)`-even half — a
    * hash split, because raw doc_id parity correlates with source in the
    * testdata and would make the halves source-disjoint) already sits on
    * the replica chunk store; how many bytes does today's half ACTUALLY
    * need to ship? Per source and `_ALL`:
    * new-doc/byte volume, distinct chunks, chunks already present in the
    * old store, bytes to send (distinct-new-chunk bytes — a chunk shared
    * by two new docs ships once), and the send ratio. Because chunk
    * boundaries are content-defined, an edited repost re-ships only its
    * changed chunks — the rsync/restic economics, priced on real data
    * before a 100 TB replication commits. Per-source rows attribute a
    * cross-source shared chunk to EACH source (an upper bound, stated);
    * the `_ALL` row is the true global plan at the global distinct grain.
    *
    * Scale shape: the same compiled boundary kernel
    * (`Expressions.cdc_chunks`, one codegen'd call/row), ONE persisted
    * chunk grain; the old-store membership is a distinct-hash equi-join
    * (never doc×doc), all rollups keyed aggregates with map-side combine.
    */
  def syncPlan(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.core.CacheScope.persist(
      docs(spark, dir)
        .select(col("doc_id"), col("source"),
          explode(graft.functions.Expressions.cdc_chunks(col("text"))).as("chunk"))
        .select(
          col("doc_id"), col("source"),
          (pmod(xxhash64(col("doc_id")), lit(2L)) === 0L).as("is_old"),
          md5(col("chunk").cast("binary")).as("h"),
          length(col("chunk")).cast("long").as("clen")))
    val oldSet = chunks.filter(col("is_old")).select(col("h")).distinct()
      .withColumn("in_old", lit(true))
    val newC = chunks.filter(!col("is_old"))
    val occ = newC.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks_new"), sum(col("clen")).as("bytes_new"))
    val occAll = newC.groupBy(lit("_ALL").as("source"))
      .agg(count(lit(1)).as("n_chunks_new"), sum(col("clen")).as("bytes_new"))
    val dist = newC.select(col("source"), col("h"), col("clen")).distinct()
      .unionByName(newC.select(lit("_ALL").as("source"), col("h"), col("clen")).distinct())
    val planned = dist
      .join(oldSet, Seq("h"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("chunks_distinct"),
        sum(when(col("in_old"), 1L).otherwise(0L)).as("chunks_in_old"),
        sum(when(col("in_old"), 0L).otherwise(col("clen"))).as("bytes_to_send"))
    // doc counts come off a second scan of documents, but a (doc_id,
    // source)-pruned one — the text column (the expensive bytes) is
    // never re-read, and counting from the chunk grain would silently
    // drop empty-text docs
    val newDocs = docs(spark, dir).filter(pmod(xxhash64(col("doc_id")), lit(2L)) === 1L)
    val nd = newDocs
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs_new"))
      .unionByName(
        newDocs.groupBy(lit("_ALL").as("source")).agg(count(lit(1)).as("n_docs_new")))
    nd.join(occ.unionByName(occAll), Seq("source"))
      .join(planned, Seq("source"))
      .select(
        col("source"), col("n_docs_new"), col("bytes_new"), col("n_chunks_new"),
        col("chunks_distinct"), col("chunks_in_old"), col("bytes_to_send"),
        round(col("bytes_to_send").cast("double") / col("bytes_new").cast("double"), 4)
          .as("send_ratio"))
      .orderBy(col("source"))
  }

  /** q198 oracle: the shared chunk CTE chain with `source` carried, the
    * same distinct/occurrence grains and membership join.
    */
  lazy val syncPlanSql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      cdcChunkCtes(Seq("doc_id", "source")): _*)
    ctes += ("q198hin" -> "(SELECT doc_id, doc_id::HUGEINT AS l FROM documents)")
    val hc = new SqlChain("q198h", "q198hin", Seq("doc_id", "l"))
    hashLongLevels(hc, s"${toUnsigned("l")}", "42", "hh")
    ctes ++= hc.ctes
    ctes += ("q198par" ->
      s"(SELECT doc_id, ((${toSigned("hh")} % 2) + 2) % 2 = 0 AS is_old FROM ${hc.last})")
    ctes += ("q198k" ->
      "(SELECT k.doc_id, k.source, p.is_old, k.h, k.clen FROM q189k k JOIN q198par p ON p.doc_id = k.doc_id)")
    ctes += ("q198old" -> "(SELECT DISTINCT h FROM q198k WHERE is_old)")
    ctes += ("q198occ" ->
      """(SELECT source, count(*)::BIGINT AS n_chunks_new, CAST(sum(clen) AS BIGINT) AS bytes_new
        |  FROM q198k WHERE NOT is_old GROUP BY 1
        |  UNION ALL
        |  SELECT '_ALL', count(*)::BIGINT, CAST(sum(clen) AS BIGINT)
        |  FROM q198k WHERE NOT is_old)""".stripMargin)
    ctes += ("q198d" ->
      """(SELECT DISTINCT source, h, clen FROM q198k WHERE NOT is_old
        |  UNION ALL
        |  SELECT DISTINCT '_ALL' AS source, h, clen FROM q198k WHERE NOT is_old)""".stripMargin)
    ctes += ("q198p" ->
      """(SELECT d.source,
        |    count(*)::BIGINT AS chunks_distinct,
        |    CAST(sum(CASE WHEN o.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS chunks_in_old,
        |    CAST(sum(CASE WHEN o.h IS NULL THEN clen ELSE 0 END) AS BIGINT) AS bytes_to_send
        |  FROM q198d d LEFT JOIN q198old o ON o.h = d.h GROUP BY 1)""".stripMargin)
    ctes += ("q198n" ->
      """(SELECT source, count(*)::BIGINT AS n_docs_new
        |  FROM documents JOIN q198par USING (doc_id) WHERE NOT is_old GROUP BY 1
        |  UNION ALL
        |  SELECT '_ALL', count(*)::BIGINT
        |  FROM documents JOIN q198par USING (doc_id) WHERE NOT is_old)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT n.source, n.n_docs_new, c.bytes_new, c.n_chunks_new,
        |  p.chunks_distinct, p.chunks_in_old, p.bytes_to_send,
        |  round(p.bytes_to_send::DOUBLE / c.bytes_new::DOUBLE, 4) AS send_ratio
        |FROM q198n n JOIN q198occ c ON c.source = n.source JOIN q198p p ON p.source = n.source
        |ORDER BY n.source""".stripMargin)
  }

  // --- q200: data-constrained epoch-capacity planner -------------------------

  /** "How many epochs can this mix run before it repeats data?" — the
    * data-constrained-scaling planning table (Muennighoff et al. 2023's
    * operational question) built from pieces this library already
    * audits: per source, the exact-dedup surviving token supply (q20's
    * md5 keeper), its natural share p, the τ=2 temperature sampling
    * probability q = √p/Σ√p (q70's mix — √ keeps the power IEEE-exact),
    * and the EPOCH CAPACITY p/q: running the temperature mix at a
    * one-corpus-equivalent token budget per epoch, a source supplying
    * share p but sampled at share q exhausts after p/q epochs —
    * upsampled tails (q > p) hit repetition first, and the binding
    * source (min capacity) caps the whole run; the flag marks it. Read
    * beside q53/q70 before committing a mix: if the binding capacity is
    * below the planned epoch count, the tail will repeat exactly when
    * the loss curve is most sensitive to it.
    *
    * Scale shape: the keeper join is q20's hash-equi groupBy+join (never
    * doc×doc), counts collapse to |sources| rows, and everything after
    * is broadcast folds on that bounded table. Exactness: integer token
    * sums, √/÷ correctly-rounded IEEE in identical op order, the Σ√p
    * fold source-ordered (q70's rule), one round per output.
    */
  def epochPlanner(spark: SparkSession, dir: String): DataFrame = {
    // the doc grain feeds three derivations (owners, the keeper join,
    // per-source doc counts) — persist it so the md5+tokenize scan runs once
    val d = graft.core.CacheScope.persist(
      docs(spark, dir).select(
        col("source"), col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        size(TextOps.toks).cast("long").as("n")))
    val owners = d.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val kept = d.join(owners, "h").filter(col("doc_id") === col("keeper"))
    val counts = graft.core.CacheScope.persist(
      d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .join(
          kept.groupBy(col("source"))
            .agg(count(lit(1)).as("kept_docs"), sum(col("n")).as("kept_tokens")),
          Seq("source")))
    val withP = counts
      .crossJoin(broadcast(counts.agg(sum(col("kept_tokens")).as("tt"))))
      .withColumn("p", col("kept_tokens").cast("double") / col("tt").cast("double"))
      .withColumn("w", sqrt(col("p")))
    val sumW = withP.agg(
      expr("aggregate(array_sort(collect_list(struct(source, w))), 0D, (a, x) -> a + x.w)")
        .as("sumw"))
    val scored = withP
      .crossJoin(broadcast(sumW))
      .withColumn("prob", col("w") / col("sumw"))
      .withColumn("cap", col("p") / col("prob"))
    scored
      .crossJoin(broadcast(scored.agg(min(col("cap")).as("mincap"))))
      .select(
        col("source"), col("n_docs"), col("kept_docs"), col("kept_tokens"),
        round(col("p"), 6).as("p_natural"),
        round(col("prob"), 6).as("prob_temp"),
        round(col("cap"), 6).as("epochs_capacity"),
        (col("cap") === col("mincap")).as("binding"))
      .orderBy(col("source"))
  }

  /** q200 oracle: same keeper rule, integer sums, identical √/÷
    * compositions and the source-ordered Σ√p fold.
    */
  val epochPlannerSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, md5(text) AS h, len(${graft.operators.TextOps.DuckToks})::BIGINT AS n
       |  FROM documents),
       |o AS (SELECT h, min(doc_id) AS keeper FROM d GROUP BY h),
       |k AS (SELECT d.* FROM d JOIN o ON o.h = d.h WHERE d.doc_id = o.keeper),
       |c AS (
       |  SELECT a.source, a.n_docs, b.kept_docs, b.kept_tokens FROM
       |    (SELECT source, count(*)::BIGINT AS n_docs FROM d GROUP BY source) a
       |    JOIN (SELECT source, count(*)::BIGINT AS kept_docs,
       |            CAST(sum(n) AS BIGINT) AS kept_tokens FROM k GROUP BY source) b
       |    USING (source)),
       |t AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS tt FROM c),
       |wp AS (SELECT c.*, kept_tokens::DOUBLE / tt::DOUBLE AS p,
       |         sqrt(kept_tokens::DOUBLE / tt::DOUBLE) AS w FROM c, t),
       |sw AS (SELECT list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY source)),
       |         (a, b) -> a + b) AS sumw FROM wp),
       |sc AS (SELECT wp.*, w / sumw AS prob, p / (w / sumw) AS cap FROM wp, sw),
       |mc AS (SELECT min(cap) AS mincap FROM sc)
       |SELECT source, n_docs, kept_docs, kept_tokens,
       |  round(p, 6) AS p_natural,
       |  round(prob, 6) AS prob_temp,
       |  round(cap, 6) AS epochs_capacity,
       |  cap = mincap AS binding
       |FROM sc, mc ORDER BY source""".stripMargin

  // --- q201: LM holdout generalization audit ---------------------------------

  /** Is the fluency gate MEMORIZING? — q68 trains its hashed bigram LM on
    * the same corpus it scores, so its cross-entropies flatter the
    * training data by construction; before using such a score as a
    * quality gate (or as a dedup-strength signal) a pipeline checks the
    * GENERALIZATION GAP: train the identical model on the
    * `xxhash64(doc_id)`-even half only, score BOTH halves, and compare
    * mean per-doc cross-entropy in-sample vs held-out. A small gap says
    * the hashed model is a genuine language statistic at this capacity;
    * a large one says its scores are recall of seen bigrams — and docs
    * near the gate threshold would flip on a retrain. One row:
    * sampled-doc counts, both means, and the gap.
    *
    * Scale split: training is the q68 collect (≤2×[[LmBuckets]] rows,
    * from HALF the corpus); scoring is the same codegen'd map-side
    * projection over everything; the final rollup quantizes each
    * already-6dp xent to exact micro-ints (order-free sums) and
    * divides once per mean.
    */
  def lmHoldout(spark: SparkSession, dir: String): DataFrame = {
    val corpus   = docs(spark, dir)
    val (cb, cu) = lmModelOf(corpus.filter(pmod(xxhash64(col("doc_id")), lit(2L)) === 0L))
    lmScoreWith(corpus, cb, cu)
      .filter(col("n_pairs") > 0L)
      .select(
        (pmod(xxhash64(col("doc_id")), lit(2L)) === 1L).as("held"),
        expr("CAST(round(lm_xent * 1000000.0, 0) AS BIGINT)").as("xq"))
      .agg(
        sum(when(!col("held"), 1L).otherwise(0L)).as("n_train"),
        sum(when(col("held"), 1L).otherwise(0L)).as("n_holdout"),
        sum(when(!col("held"), col("xq")).otherwise(0L)).as("st"),
        sum(when(col("held"), col("xq")).otherwise(0L)).as("sh"))
      .select(
        col("n_train"),
        col("n_holdout"),
        round(col("st").cast("double") / (col("n_train").cast("double") * lit(1000000.0)), 6)
          .as("xent_train"),
        round(col("sh").cast("double") / (col("n_holdout").cast("double") * lit(1000000.0)), 6)
          .as("xent_holdout"),
        round(
          col("sh").cast("double") / (col("n_holdout").cast("double") * lit(1000000.0)) -
            col("st").cast("double") / (col("n_train").cast("double") * lit(1000000.0)),
          6).as("gap"))
  }

  /** q201 oracle: q68's chain with the count CTEs restricted to the
    * hash-even half (XXH64 parity via the emulation chain) and the
    * score join made LEFT + coalesce-0 — a held-out pair may hit a
    * bucket the training half never filled (the expression's
    * `getOrElse 0`); identical micro-int rollup.
    */
  lazy val lmHoldoutSql: String = {
    import graft.functions.DuckHash._
    val B = LmBuckets
    val ctes = ArrayBuffer[(String, String)](
      "q201pin" -> "(SELECT doc_id, doc_id::HUGEINT AS l FROM documents)"
    )
    val hp = new SqlChain("q201ph", "q201pin", Seq("doc_id", "l"))
    hashLongLevels(hp, s"${toUnsigned("l")}", "42", "hh")
    ctes ++= hp.ctes
    ctes += ("q201par" ->
      s"(SELECT doc_id, ((${toSigned("hh")} % 2) + 2) % 2 = 0 AS is_train FROM ${hp.last})")
    ctes += ("q201t" -> s"(SELECT doc_id, ${graft.operators.TextOps.DuckToks} AS toks FROM documents)")
    ctes += ("q201p" ->
      """(SELECT doc_id, pos, toks[pos] AS w1, toks[pos] || ' ' || toks[pos + 1] AS bg
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos FROM q201t))""".stripMargin)
    ctes += ("q201uw" -> "(SELECT doc_id, unnest(toks) AS w FROM q201t)")
    ctes += ("q201ud" -> s"(SELECT w, ${bytesOf("w")} AS b FROM (SELECT DISTINCT w FROM q201uw))")
    val hu = hashBytesChain("q201hu", "q201ud", Seq("w"), "42", "hs")
    ctes ++= hu.ctes
    ctes += ("q201uf" -> s"(SELECT w, (((${toSigned("hs")} % $B) + $B) % $B) AS f1 FROM ${hu.last})")
    ctes += ("q201bd" -> s"(SELECT bg, ${bytesOf("bg")} AS b FROM (SELECT DISTINCT bg FROM q201p))")
    val hb = hashBytesChain("q201hb", "q201bd", Seq("bg"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q201bf" -> s"(SELECT bg, (((${toSigned("hs")} % $B) + $B) % $B) AS f2 FROM ${hb.last})")
    ctes += ("q201cu" ->
      """(SELECT f1, count(*) AS cu FROM q201uw JOIN q201uf USING (w)
        |  JOIN q201par USING (doc_id) WHERE is_train GROUP BY f1)""".stripMargin)
    ctes += ("q201cb" ->
      """(SELECT f2, count(*) AS cb FROM q201p JOIN q201bf USING (bg)
        |  JOIN q201par USING (doc_id) WHERE is_train GROUP BY f2)""".stripMargin)
    ctes += ("q201w" ->
      s"""(SELECT p.doc_id, p.pos,
         |    round(ln((coalesce(cb, 0) + 1)::DOUBLE / (coalesce(cu, 0) + $B)::DOUBLE), 6) AS w
         |  FROM q201p p JOIN q201uf u ON u.w = p.w1 JOIN q201bf g ON g.bg = p.bg
         |  LEFT JOIN q201cu ON q201cu.f1 = u.f1 LEFT JOIN q201cb ON q201cb.f2 = g.f2)""".stripMargin)
    ctes += ("q201s" ->
      """(SELECT doc_id, count(*) AS n_pairs,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY pos)), (a, b) -> a + b) AS s
        |  FROM q201w GROUP BY doc_id)""".stripMargin)
    ctes += ("q201x" ->
      """(SELECT q201s.doc_id, NOT is_train AS held,
        |    CAST(round(round(-s / n_pairs, 6) * 1000000.0, 0) AS BIGINT) AS xq
        |  FROM q201s JOIN q201par ON q201par.doc_id = q201s.doc_id
        |  WHERE n_pairs > 0)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT
        |  CAST(sum(CASE WHEN NOT held THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN held THEN 1 ELSE 0 END) AS BIGINT) AS n_holdout,
        |  round(CAST(sum(CASE WHEN NOT held THEN xq ELSE 0 END) AS DOUBLE)
        |    / (CAST(sum(CASE WHEN NOT held THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0), 6) AS xent_train,
        |  round(CAST(sum(CASE WHEN held THEN xq ELSE 0 END) AS DOUBLE)
        |    / (CAST(sum(CASE WHEN held THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0), 6) AS xent_holdout,
        |  round(CAST(sum(CASE WHEN held THEN xq ELSE 0 END) AS DOUBLE)
        |    / (CAST(sum(CASE WHEN held THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0)
        |    - CAST(sum(CASE WHEN NOT held THEN xq ELSE 0 END) AS DOUBLE)
        |    / (CAST(sum(CASE WHEN NOT held THEN 1 ELSE 0 END) AS DOUBLE) * 1000000.0), 6) AS gap
        |FROM q201x""".stripMargin)
  }

  // --- q202: feature-hash collision-load audit -------------------------------

  /** Is B=[[LmBuckets]] big enough? — every hashed model in this library
    * (q44's count-min, q57's DSIR, q66's NB, q68's LM, q201's holdout)
    * rides the same trick: grams → `xxhash64 mod B` buckets. Collisions
    * are the price, and this table prices them: the distribution of
    * BUCKET LOAD over q68's 1+2-gram feature space — for each load
    * value, how many buckets hold that many DISTINCT grams (load 0 =
    * head-room) and what fraction of the corpus's gram INSTANCES lives
    * there (mass tells whether collisions land on heavy or tail grams —
    * a high-load bucket full of hapax grams is noise; one carrying a
    * heavy gram biases every score that reads it). Capacity planning in
    * one read: if most mass sits at load 1-2, B holds; if heavy buckets
    * dominate, double B before trusting q68/q57 scores.
    *
    * Scale shape: ONE explode of the gram space → distinct-gram counts
    * (map-side combine, one shuffle — the q68 training grain), bucket
    * rollup collapses to ≤B rows, the load histogram to ≤max-load rows;
    * the empty-bucket row derives from B minus a 1-row count. Integer
    * counts; two divide-rounds per row.
    */
  def hashLoad(spark: SparkSession, dir: String): DataFrame = {
    val B = LmBuckets
    val grams = docs(spark, dir)
      .select(TextOps.toks.as("toks"))
      .select(explode(concat(
        col("toks"),
        expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
            " (a, b) -> concat(a, ' ', b))"))).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("inst"))
    val buckets = grams
      .groupBy(pmod(xxhash64(col("gram")), lit(B.toLong)).as("f"))
      .agg(count(lit(1)).as("load"), sum(col("inst")).as("mass"))
    val hist = buckets
      .groupBy(col("load"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("mass")).as("mass"))
    val filled = buckets.agg(count(lit(1)).as("nf"))
    val zero = filled
      .filter(col("nf") < B)
      .select(lit(0L).as("load"), (lit(B.toLong) - col("nf")).as("n_buckets"),
        lit(0L).as("mass"))
    hist
      .unionByName(zero)
      .crossJoin(broadcast(hist.agg(sum(col("mass")).as("tm"))))
      .select(
        col("load"), col("n_buckets"),
        round(col("n_buckets").cast("double") / lit(B.toDouble), 6).as("bucket_share"),
        col("mass"),
        round(col("mass").cast("double") / col("tm").cast("double"), 6).as("mass_share"))
      .orderBy(col("load"))
  }

  /** q202 oracle: distinct grams hashed once via the bytes chain, same
    * bucket/histogram rollups and divide-round shapes.
    */
  lazy val hashLoadSql: String = {
    import graft.functions.DuckHash._
    val B = LmBuckets
    val ctes = ArrayBuffer[(String, String)](
      "q202g" ->
        s"""(SELECT gram, count(*)::BIGINT AS inst FROM (
           |  SELECT unnest(list_concat(toks,
           |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))) AS gram
           |  FROM (SELECT ${graft.operators.TextOps.DuckToks} AS toks FROM documents))
           |  GROUP BY gram)""".stripMargin,
      "q202d" -> s"(SELECT gram, inst, ${bytesOf("gram")} AS b FROM q202g)"
    )
    val hb = hashBytesChain("q202hx", "q202d", Seq("gram", "inst"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q202b" ->
      s"""(SELECT (((${toSigned("hs")} % $B) + $B) % $B) AS f,
         |    count(*)::BIGINT AS load, CAST(sum(inst) AS BIGINT) AS mass
         |  FROM ${hb.last} GROUP BY 1)""".stripMargin)
    ctes += ("q202h" ->
      """(SELECT load, count(*)::BIGINT AS n_buckets, CAST(sum(mass) AS BIGINT) AS mass
        |  FROM q202b GROUP BY 1)""".stripMargin)
    ctes += ("q202z" ->
      s"""(SELECT 0::BIGINT AS load, ($B - nf)::BIGINT AS n_buckets, 0::BIGINT AS mass
         |  FROM (SELECT count(*)::BIGINT AS nf FROM q202b) WHERE nf < $B)""".stripMargin)
    ctes += ("q202u" -> "(SELECT * FROM q202h UNION ALL SELECT * FROM q202z)")
    assemble(
      ctes.toSeq,
      s"""SELECT load, n_buckets,
         |  round(n_buckets::DOUBLE / $B.0, 6) AS bucket_share,
         |  mass,
         |  round(mass::DOUBLE / tm::DOUBLE, 6) AS mass_share
         |FROM q202u CROSS JOIN (SELECT CAST(sum(mass) AS BIGINT) AS tm FROM q202h)
         |ORDER BY load""".stripMargin)
  }

  // --- q203: CDC chunk-geometry audit ----------------------------------------

  /** Is the boundary rule behaving? — q189/q198/D6 all assume the CDC
    * cut fires at ~1/64 positions, giving ~64-char mean chunks; a
    * content distribution that correlates with the rolling hash (long
    * runs, low-entropy boilerplate, adversarial text) skews that
    * geometry, and skewed geometry silently degrades both dedup recall
    * (giant chunks dedup nothing) and store overhead (tiny chunks pay
    * per-chunk metadata). This table audits the realized chunk-length
    * distribution against the rule's nominal geometry: per 16-char
    * length bucket the chunk count, byte mass and shares, plus each
    * bucket's share under the IDEAL geometric(1/64) law — read the two
    * share columns side by side; a fat tail beyond ~4× the mean is the
    * trigger to add a max-chunk cap before a 100 TB store commits.
    *
    * Scale shape: the chunk grain (compiled kernel) collapses map-side
    * to a ≤⌈maxlen/16⌉-row histogram; the geometric reference is a pure
    * per-row expression on bounded rows. Exactness: integer counts and
    * share divisions as usual; the ideal-share term
    * `(63/64)^(16k) − (63/64)^(16(k+1))` evaluates `pow` on IDENTICAL
    * inputs in both engines (the base literal parses to the same double,
    * the exponent is an integer exact in double) — pow is within 1 ulp
    * on both, and the 6-dp round absorbs it except on a measure-zero
    * boundary (the q67 ln rule, applied to pow).
    */
  def chunkGeometry(spark: SparkSession, dir: String): DataFrame = {
    val hist = docs(spark, dir)
      .select(explode(graft.functions.Expressions.cdc_chunks(col("text"))).as("chunk"))
      .select((length(col("chunk")).cast("long") / lit(16L)).cast("long").as("lb"),
        length(col("chunk")).cast("long").as("clen"))
      .groupBy(col("lb"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("bytes"))
    hist
      .crossJoin(broadcast(
        hist.agg(sum(col("n_chunks")).as("tn"), sum(col("bytes")).as("tb"))))
      .select(
        (col("lb") * 16).as("len_lo"),
        col("n_chunks"),
        round(col("n_chunks").cast("double") / col("tn").cast("double"), 6).as("chunk_share"),
        col("bytes"),
        round(col("bytes").cast("double") / col("tb").cast("double"), 6).as("byte_share"),
        round(
          pow(lit(63.0 / 64.0), (col("lb") * 16).cast("double")) -
            pow(lit(63.0 / 64.0), ((col("lb") + 1) * 16).cast("double")),
          6).as("ideal_share"))
      .orderBy(col("len_lo"))
  }

  /** q203 oracle: the shared chunk CTE chain, same 16-char buckets and
    * the same two-pow geometric reference on identical integer inputs.
    */
  lazy val chunkGeometrySql: String = {
    import graft.functions.DuckHash._
    val ctes = scala.collection.mutable.ArrayBuffer[(String, String)](
      cdcChunkCtes(Seq("doc_id")): _*)
    ctes += ("q203h" ->
      """(SELECT clen // 16 AS lb, count(*)::BIGINT AS n_chunks, CAST(sum(clen) AS BIGINT) AS bytes
        |  FROM q189k GROUP BY 1)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT (lb * 16)::BIGINT AS len_lo, n_chunks,
        |  round(n_chunks::DOUBLE / tn::DOUBLE, 6) AS chunk_share,
        |  bytes,
        |  round(bytes::DOUBLE / tb::DOUBLE, 6) AS byte_share,
        |  round(pow(63.0 / 64.0, (lb * 16)::DOUBLE) - pow(63.0 / 64.0, ((lb + 1) * 16)::DOUBLE), 6)
        |    AS ideal_share
        |FROM q203h CROSS JOIN
        |  (SELECT CAST(sum(n_chunks) AS BIGINT) AS tn, CAST(sum(bytes) AS BIGINT) AS tb FROM q203h)
        |ORDER BY len_lo""".stripMargin)
  }

  // --- q204: quality-gate disagreement audit ---------------------------------

  /** q177's question asked of the QUALITY gates instead of the dedup
    * detectors: at a matched budget (keep the top half of every source's
    * docs — mix-preserving by construction), how much do the three
    * quality signals this library ships actually AGREE on what to keep?
    * Gates: the q22 heuristic (stop-word ratio — natural text reads
    * high), the q68 bigram-LM (keep the LOW-xent half — gibberish reads
    * high), and the q57 DSIR importance weight (keep the high-weight
    * half). Per gate pair: both keep-set sizes, the intersection, each
    * side's exclusive picks and the set Jaccard — high heuristic↔LM
    * agreement says the cheap gate can front the expensive one; a large
    * DSIR-only tail says importance weighting selects something the
    * fluency gates cannot see (and dropping it changes the mix). Docs
    * with < 2 tokens are excluded up front so every gate can score every
    * audited doc (the LM needs a bigram).
    *
    * Scale shape: the three scoring passes are the gates' own map-side
    * kernels (two bounded collected models + one heuristic projection);
    * budget cuts are source-partitioned rank windows (never a global
    * sort); the pair rollup is three conditional sums over ONE persisted
    * flag join, collected as a single bounded row.
    */
  def gateAgreement(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the model-training pass and the scoring pass both read
    // this filtered corpus. r15: the persisted rows are the TOKENIZED
    // (doc_id, source, toks) projection, not raw docs — both consumers
    // previously re-ran the whitespace tokenizer over the cached text per
    // pass (and the cache held text + toks-sized bytes for no reader of
    // text). Same split expression, so every downstream value is
    // unchanged.
    val corpus = graft.core.CacheScope.persist(
      docs(spark, dir)
        .select(col("doc_id"), col("source"), TextOps.toks.as("toks"))
        .filter(size(col("toks")) >= 2))
    // r14: ONE scoring projection computes all three gate signals (the
    // two models are collected bounded maps riding codegen'd expressions,
    // exactly lmScoreWith/dsirWeightsOf's spellings — including DSIR's
    // 6-dp round, which is the ordering key), then ONE source-keyed
    // exchange carries all three rank windows + the group count. The
    // previous spelling built three separate score frames and re-joined
    // them on doc_id: two corpus-grain join shuffles and three window
    // exchanges for the same flags.
    // r14.2: BOTH bounded models train from ONE corpus pass — the LM's
    // hashed unigram/bigram counts (kind 0/1, lmModelOf's exact
    // expressions) and DSIR's per-feature raw/target counts (kind 2,
    // dsirModelOf's exact aggregate) ride a single exploded (kind, f)
    // aggregate collected once. Identical integer counts in, identical
    // driver-side model maps out — but one scan and one collect job where
    // the previous spelling scheduled two of each per run.
    val B = LmBuckets
    val isTgt = col("source").isInCollection(DsirTarget)
    val trained = corpus
      .select(col("toks"), isTgt.cast("long").as("t"))
      .select(
        explode(concat(
          expr(s"transform(toks, t -> named_struct('kind', 0, 'f', pmod(xxhash64(t), $B)))"),
          expr(
            s"""zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1),
               |  (a, b) -> named_struct('kind', 1, 'f', pmod(xxhash64(concat(a, ' ', b)), $B)))"""
              .stripMargin),
          transform(dsirFeats, f => struct(lit(2).as("kind"), f.as("f"))))).as("kf"),
        col("t"))
      .groupBy(col("kf.kind").as("kind"), col("kf.f").as("f"))
      .agg(count(lit(1)).as("cr"), sum(col("t")).as("ct"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lmM = (
      trained.collect { case (1, f, c, _) => f -> c }.toMap,
      trained.collect { case (0, f, c, _) => f -> c }.toMap)
    val dsirRows = trained.collect { case (2, f, cr, ct) => (f, cr, ct) }
    val (tr, tt) = (dsirRows.map(_._2).sum, dsirRows.map(_._3).sum)
    val dsirM = dsirRows.map { case (f, cr, ct) =>
      f -> StrictMath.log(
        ((ct + 1).toDouble * (tr + DsirBuckets).toDouble) /
          ((cr + 1).toDouble * (tt + DsirBuckets).toDouble))
    }.toMap
    val scored = corpus.select(
      col("doc_id"),
      col("source"),
      (TextOps.stopCountOf("toks") / size(col("toks"))).as("sr"),
      graft.functions.Expressions
        .lm_xent(col("toks"), lmM._1, lmM._2, LmBuckets)
        .getField("lm_xent").as("lm_xent"),
      round(
        graft.functions.Expressions.dsir_score(col("toks"), dsirM, DsirBuckets).getField("score"),
        6).as("dsir_score"))
    val bySrc = Window.partitionBy(col("source"))
    def keep(order: Column*): Column =
      row_number().over(bySrc.orderBy(order: _*)) <= expr("(ns + 1) div 2")
    val flags = scored
      .withColumn("ns", count(lit(1)).over(bySrc))
      .select(
        col("doc_id"),
        keep(col("sr").desc, col("doc_id").asc).as("k_heur"),
        keep(col("lm_xent").asc, col("doc_id").asc).as("k_lm"),
        keep(col("dsir_score").desc, col("doc_id").asc).as("k_dsir"))
    val r = flags
      .agg(
        sum(when(col("k_heur"), 1L).otherwise(0L)).as("na"),
        sum(when(col("k_lm"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("k_dsir"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("k_heur") && col("k_lm"), 1L).otherwise(0L)).as("hl"),
        sum(when(col("k_heur") && col("k_dsir"), 1L).otherwise(0L)).as("hd"),
        sum(when(col("k_lm") && col("k_dsir"), 1L).otherwise(0L)).as("ld"))
      .collect()(0)
    val (na, nb, nc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (hl, hd, ld) = (r.getLong(3), r.getLong(4), r.getLong(5))
    def jac(a: Long, b: Long, both: Long): Double =
      java.math.BigDecimal.valueOf(both.toDouble / (a + b - both).toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    import spark.implicits._
    Seq(
      ("heuristic", "lm", na, nb, hl, na - hl, nb - hl, jac(na, nb, hl)),
      ("heuristic", "dsir", na, nc, hd, na - hd, nc - hd, jac(na, nc, hd)),
      ("lm", "dsir", nb, nc, ld, nb - ld, nc - ld, jac(nb, nc, ld)))
      .toDF("gate_a", "gate_b", "n_a", "n_b", "n_both", "n_only_a", "n_only_b", "jaccard")
      .orderBy(col("gate_a"), col("gate_b"))
  }

  /** q204 oracle: the q22/q68/q57 scoring chains on the ≥2-token corpus,
    * identical source-partitioned rank cuts, the same conditional sums
    * and Jaccard composition.
    */
  lazy val gateAgreementSql: String = {
    import graft.functions.DuckHash._
    val B     = LmBuckets
    val where = s"len(${graft.operators.TextOps.DuckToks}) >= 2"
    val ctes = ArrayBuffer[(String, String)](
      "q204t" ->
        s"(SELECT doc_id, source, text, ${graft.operators.TextOps.DuckToks} AS toks FROM documents WHERE $where)",
      // heuristic: stop ratio (duckStopCount reads the carried raw text)
      "q204h" ->
        s"""(SELECT doc_id, source,
           |    (${graft.operators.TextOps.duckStopCount})::DOUBLE / len(toks)::DOUBLE AS sr
           |  FROM q204t)""".stripMargin,
      // LM chain (q68's shape on the filtered corpus)
      "q204p" ->
        """(SELECT doc_id, pos, toks[pos] AS w1, toks[pos] || ' ' || toks[pos + 1] AS bg
          |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos FROM q204t))""".stripMargin,
      "q204uw" -> "(SELECT doc_id, unnest(toks) AS w FROM q204t)",
      "q204ud" -> s"(SELECT w, ${bytesOf("w")} AS b FROM (SELECT DISTINCT w FROM q204uw))"
    )
    val hu = hashBytesChain("q204hu", "q204ud", Seq("w"), "42", "hs")
    ctes ++= hu.ctes
    ctes += ("q204uf" -> s"(SELECT w, (((${toSigned("hs")} % $B) + $B) % $B) AS f1 FROM ${hu.last})")
    ctes += ("q204bd" -> s"(SELECT bg, ${bytesOf("bg")} AS b FROM (SELECT DISTINCT bg FROM q204p))")
    val hb = hashBytesChain("q204hb", "q204bd", Seq("bg"), "42", "hs")
    ctes ++= hb.ctes
    ctes += ("q204bf" -> s"(SELECT bg, (((${toSigned("hs")} % $B) + $B) % $B) AS f2 FROM ${hb.last})")
    ctes += ("q204cu" -> "(SELECT f1, count(*) AS cu FROM q204uw JOIN q204uf USING (w) GROUP BY f1)")
    ctes += ("q204cb" -> "(SELECT f2, count(*) AS cb FROM q204p JOIN q204bf USING (bg) GROUP BY f2)")
    ctes += ("q204w" ->
      s"""(SELECT p.doc_id, p.pos, round(ln((cb + 1)::DOUBLE / (cu + $B)::DOUBLE), 6) AS w
         |  FROM q204p p JOIN q204uf u ON u.w = p.w1 JOIN q204bf g ON g.bg = p.bg
         |  JOIN q204cu ON q204cu.f1 = u.f1 JOIN q204cb ON q204cb.f2 = g.f2)""".stripMargin)
    ctes += ("q204x" ->
      """(SELECT t.doc_id, t.source, round(-s.s / s.n_pairs, 6) AS lm_xent FROM q204t t JOIN (
        |  SELECT doc_id, count(*) AS n_pairs,
        |    list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY pos)), (a, b) -> a + b) AS s
        |  FROM q204w GROUP BY doc_id) s ON s.doc_id = t.doc_id)""".stripMargin)
    // DSIR chain on the filtered corpus
    ctes ++= dsirFeatureCtes("q204d", where)
    val BD = DsirBuckets
    val tgt = DsirTarget.map(x => s"'$x'").mkString(", ")
    ctes += ("q204ds" ->
      s"""(SELECT f, count(*) AS cr,
         |    CAST(sum(CASE WHEN source IN ($tgt) THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |    FROM q204de GROUP BY f)""".stripMargin)
    ctes += ("q204do" ->
      "(SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt FROM q204ds)")
    ctes += ("q204dl" ->
      s"""(SELECT f, ln(((ct + 1)::DOUBLE * (tr + $BD)::DOUBLE) /
         |             ((cr + 1)::DOUBLE * (tt + $BD)::DOUBLE)) AS lr
         |    FROM q204ds, q204do)""".stripMargin)
    ctes += ("q204dc" ->
      "(SELECT doc_id, source, f, count(*) AS c FROM q204de GROUP BY doc_id, source, f)")
    ctes += ("q204dw" ->
      "(SELECT doc_id, source, f, c, c::DOUBLE * lr AS w FROM q204dc JOIN q204dl USING (f))")
    ctes += ("q204dx" ->
      """(SELECT doc_id, source, round(s, 6) AS dsir_score FROM (
        |  SELECT doc_id, source,
        |    list_reduce(list(w ORDER BY f), (a, b) -> a + b) AS s
        |  FROM q204dw GROUP BY doc_id, source))""".stripMargin)
    // budget cuts: top half per source under each ordering
    def cut(src: String, ord: String, flag: String): String =
      s"""(SELECT doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY $ord, doc_id)
         |      <= (count(*) OVER (PARTITION BY source) + 1) // 2 AS $flag
         |  FROM $src)""".stripMargin
    ctes += ("q204kh" -> cut("q204h", "sr DESC", "k_heur"))
    ctes += ("q204kl" -> cut("q204x", "lm_xent ASC", "k_lm"))
    ctes += ("q204kd" -> cut("q204dx", "dsir_score DESC", "k_dsir"))
    ctes += ("q204f" ->
      """(SELECT k_heur, k_lm, k_dsir
        |  FROM q204kh JOIN q204kl USING (doc_id) JOIN q204kd USING (doc_id))""".stripMargin)
    ctes += ("q204a" ->
      """(SELECT
        |    CAST(sum(CASE WHEN k_heur THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN k_lm THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN k_dsir THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN k_heur AND k_lm THEN 1 ELSE 0 END) AS BIGINT) AS hl,
        |    CAST(sum(CASE WHEN k_heur AND k_dsir THEN 1 ELSE 0 END) AS BIGINT) AS hd,
        |    CAST(sum(CASE WHEN k_lm AND k_dsir THEN 1 ELSE 0 END) AS BIGINT) AS ld
        |  FROM q204f)""".stripMargin)
    assemble(
      ctes.toSeq,
      """SELECT * FROM (
        |  SELECT 'heuristic' AS gate_a, 'lm' AS gate_b, na AS n_a, nb AS n_b, hl AS n_both,
        |    na - hl AS n_only_a, nb - hl AS n_only_b,
        |    round(hl::DOUBLE / (na + nb - hl)::DOUBLE, 6) AS jaccard FROM q204a
        |  UNION ALL
        |  SELECT 'heuristic', 'dsir', na, nc, hd, na - hd, nc - hd,
        |    round(hd::DOUBLE / (na + nc - hd)::DOUBLE, 6) FROM q204a
        |  UNION ALL
        |  SELECT 'lm', 'dsir', nb, nc, ld, nb - ld, nc - ld,
        |    round(ld::DOUBLE / (nb + nc - ld)::DOUBLE, 6) FROM q204a)
        |ORDER BY gate_a, gate_b""".stripMargin)
  }
}
