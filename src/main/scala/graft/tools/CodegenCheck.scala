package graft.tools
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build()
    // runtime SQL confs: fail on any generated-code compile error instead
    // of silently falling back to interpreted evaluation
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val r = spark.sql(
      """SELECT graft_fingerprint(split(text, ' ')) AS fp,
        |  graft_simhash64(transform(split(text, ' '), t -> xxhash64(t))) AS sh
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
    val n = r.filter("fp IS NOT NULL AND sh IS NOT NULL").count()
    import org.apache.spark.sql.functions.{col, expr}
    val vecs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val nb = vecs
      .select(graft.functions.Expressions.hyperplane_bucket(col("v"), 0, 6).as("b"))
      .filter("b IS NOT NULL AND b >= 0 AND b < 64")
      .count()
    // fixed unit-ish centroids: exercises NearestCentroids' generated loops
    val cents = Array(
      Array.tabulate(64)(d => if (d == 0) 1.0 else 0.0),
      Array.tabulate(64)(d => if (d == 1) 1.0 else 0.0),
      Array.tabulate(64)(d => if (d == 2) 1.0 else 0.0)
    )
    val nc = vecs
      .select(graft.functions.Expressions.nearest_centroids(col("v"), cents, 2).as("cells"))
      .filter("size(cells) = 2 AND cells[0] >= 0 AND cells[0] < 3 AND cells[0] <> cells[1]")
      .count()
    val nm = spark.sql(
      """SELECT transform(split(text, ' '), t -> xxhash64(t)) AS bh
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(graft.functions.Expressions.minhash_signatures(col("bh"), 32).as("sigs"))
      .filter("size(sigs) = 32")
      .count()
    val nd = vecs
      .select(
        graft.functions.Expressions.dot_product(col("v"), col("v")).as("d"),
        graft.functions.Expressions.l2_norm(col("v")).as("nrm"))
      .filter("d IS NOT NULL AND abs(sqrt(d) - nrm) < 1e-9")
      .count()
    val nw = spark.sql(
      """SELECT split(text, ' ') AS toks
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(graft.functions.Expressions.winnow_fps(col("toks"), 4, 4).as("fps"))
      .filter("size(fps) >= 0")
      .count()
    val ng = spark.sql(
      """SELECT split(text, ' ') AS toks
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(graft.functions.Expressions.top2gram_count(col("toks")).as("c"))
      .filter("c >= 0")
      .count()
    val nq = vecs
      .select(graft.functions.Expressions.int8_quant_summary(col("v")).as("s"))
      .filter("s IS NULL OR (s.q_min >= -127 AND s.q_max <= 127)")
      .count()
    val nj = vecs
      .select(graft.functions.Expressions.rademacher_project(col("v"), 97, 16).as("y"))
      .filter("size(y) = 16")
      .count()
    val nl = spark.sql(
      """SELECT split(text, ' ') AS toks
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(graft.functions.Expressions
        .lm_xent(col("toks"), Map(1L -> 3L), Map(2L -> 5L), 4096).as("s"))
      .filter("s.n_pairs >= 0 AND (s.n_pairs = 0) = (s.lm_xent IS NULL)")
      .count()
    val ne = spark.sql(
      """SELECT split(text, ' ') AS toks
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(graft.functions.Expressions
        .bpe_encode(col("toks"), Array("t", "th"), Array("h", "e")).as("e"))
      .filter("size(e) = 3 AND e[2] <= e[1] AND e[0] <= e[2]")
      .count()
    val nn = spark.sql(
      """SELECT text FROM parquet.`/root/testdata/sf0.001/documents.parquet`""")
      .select(graft.functions.Expressions.normalize_text(col("text")).as("s"))
      .filter("s.n_ctrl >= 0 AND s.clean IS NOT NULL")
      .count()
    // chunks must tile the text exactly: concat of slices == original
    val nk = spark.sql(
      """SELECT text FROM parquet.`/root/testdata/sf0.001/documents.parquet`""")
      .select(col("text"), graft.functions.Expressions.cdc_chunks(col("text")).as("chs"))
      .filter("size(chs) >= 1 AND array_join(chs, '') = text")
      .count()
    // positional window hashes: exactly len−n+1 entries, and each equals the
    // xxhash64 of the space-joined window (cross-checked in-plan)
    val nwh = spark.sql(
      """SELECT split(text, ' ') AS toks
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(col("toks"),
        graft.functions.Expressions.window_gram_hashes(col("toks"), 3).as("ws"))
      .filter(
        """size(ws) = greatest(0, size(toks) - 2) AND (size(ws) = 0 OR
          |ws[0] = xxhash64(concat_ws(' ', toks[0], toks[1], toks[2])))""".stripMargin)
      .count()
    // multi-grain gram hashes: the n=3 slice of the fused kernel equals the
    // single-grain window hash of the first position (cross-checked in-plan)
    val nmg = spark.sql(
      """SELECT split(text, ' ') AS toks
        |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin)
      .select(col("toks"),
        graft.functions.Expressions.multi_gram_hashes(col("toks"), Seq(3, 5)).as("mg"))
      .filter(
        """(CASE WHEN size(toks) >= 3 THEN
          |  size(filter(mg, x -> x.n = 3)) = size(array_distinct(transform(
          |    sequence(0, size(toks) - 3),
          |    i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))))
          | ELSE size(filter(mg, x -> x.n = 3)) = 0 END) AND
          |(size(toks) < 3 OR filter(mg, x -> x.n = 3)[0].g =
          |  xxhash64(concat_ws(' ', toks[0], toks[1], toks[2])))""".stripMargin)
      .count()
    println(s"CODEGEN_ONLY evaluated rows: $n text, $nb vector, $nc centroid, $nd dot/norm, $nm minhash, $nw winnow, $ng top2gram, $nq int8, $nj jlproj, $nl lmxent, $ne bpe, $nn norm, $nk cdc, $nwh winhash, $nmg multigram")
    spark.stop()
  }
}
