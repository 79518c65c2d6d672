package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{EpochLedger, StoredIndex, Tables}

/** Embedding / similarity-search query pack over the `embeddings` table
  * (64-dim float vectors, int label) — the ANN / near-dup operators a
  * training-data pipeline needs at 100 TB.
  *
  * Cross-engine float determinism: every dot product is computed as a
  * left-to-right fold of per-element double products (each float is cast to
  * double first — exact — then multiplied and accumulated as doubles). Spark
  * (`aggregate(zip_with(...))`) and the DuckDB oracle
  * (`list_reduce(list_transform(generate_series(1,64), ...))`) perform the
  * identical IEEE-754 operation sequence, so results are bit-identical; we
  * still publish similarity as `floor(1e6 * x)` micros (BIGINT) so the
  * hash-compare never touches a raw double.
  *
  * Scale notes (100 TB): brute-force top-k broadcasts the (tiny, fixed)
  * query set against the full table — one scan, no shuffle of the big side,
  * partial top-k per partition via the window rank after a repartition on
  * query_id (k and |queries| are constants). The LSH and IVF variants
  * restrict candidate generation to an equi-join on a derived bucket key —
  * the standard route to sub-linear ANN on a cluster; bucket skew falls to
  * AQE. No O(n²) pair generation anywhere except within-bucket.
  */
object VectorOps {

  private val dim = 64

  /** Left-to-right double dot product of two float-array columns — the
    * native codegen'd `dot_d` ([[graft.functions.DotProductDExpression]]).
    * Bit-identical to the declarative `aggregate(zip_with(...))` fold it
    * replaced (verified raw-double-equal over the corpus), but the HOF
    * version runs its lambdas on the interpreted expression path
    * (`CodegenFallback`), per element per row; `dot_d` fuses into
    * whole-stage codegen. Registration happens in [[vecs]], so every
    * query is self-contained.
    */
  private[queries] def dotd(a: String, b: String): Column = expr(s"dot_d($a, $b)")

  /** DuckDB equivalent of [[dotd]] (1-based list indexing, same fold order
    * — list_reduce seeds with element 1, and `0.0 + p1 == p1` keeps the sum
    * sequence numerically identical).
    */
  private[queries] def oDot(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, $dim),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private def vecs(s: SparkSession, d: String): DataFrame = {
    // every VectorOps query loads embeddings through here, so this is the
    // one choke point to make `dot_d` resolvable in the session
    graft.functions.GraftFunctions.registerDotD(s)
    Tables.embeddings(s, d)
  }

  /** floor(1e6 x) as BIGINT — the hash-safe similarity representation. */
  private[queries] def micros(c: Column): Column = floor(c * lit(1e6)).cast("long")

  // ---------------------------------------------------------------------
  // Per-vector norms + per-label stats: linear scan, integer-scaled
  // aggregation (order-independent), one tiny shuffle.
  // ---------------------------------------------------------------------

  val normStats = Q(
    "v_norm_stats",
    (s, d) => {
      import s.implicits._
      vecs(s, d)
        .withColumn("norm2_micros", micros(dotd("embedding", "embedding")))
        .groupBy($"label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum($"norm2_micros").as("sum_norm2_micros"),
          min($"norm2_micros").as("min_norm2_micros"),
          max($"norm2_micros").as("max_norm2_micros"),
        )
    },
    Some(s"""
      WITH t AS (
        SELECT label,
               CAST(FLOOR(1e6 * ${oDot("embedding", "embedding")}) AS BIGINT) AS norm2_micros
        FROM embeddings)
      SELECT label, COUNT(*) AS n_vecs, CAST(SUM(norm2_micros) AS BIGINT) AS sum_norm2_micros,
             MIN(norm2_micros) AS min_norm2_micros, MAX(norm2_micros) AS max_norm2_micros
      FROM t GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Brute-force cosine top-k — the exact ANN baseline. Query set = vec_id
  // < 5 (fixed, broadcastable); each data partition scores its vectors
  // against all queries, then a per-query rank keeps k. At 100 TB the big
  // side is scanned once and never shuffled in full: only (query, cand,
  // sim) triples flow into the rank.
  // ---------------------------------------------------------------------

  private val nQueries = 5
  private[graft] val topK = 10L // shared with the serving streams' defaults

  /** Exact cosine top-k for the fixed query set — the ANN ground truth
    * every recall audit (IVF, PQ, and the round-15 quantization family)
    * compares against. Broadcast-probe scan shape: the corpus is read
    * once, never shuffled in full.
    */
  private[queries] def exactCosTopK(s: SparkSession, d: String): DataFrame =
    exactCosTopKPanel(s, d, col("vec_id") < nQueries)

  /** [[exactCosTopK]] over an arbitrary query panel — the refine
    * audit's truth uses the IVF-PQ family's centroid-disjoint panel.
    */
  private def exactCosTopKPanel(s: SparkSession, d: String, panel: Column): DataFrame = {
    import s.implicits._
    val q = vecs(s, d)
      .filter(panel)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val cand = vecs(s, d)
      .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
    cand
      .join(broadcast(q), $"cand_id" =!= $"query_id")
      .withColumn(
        "sim_micros",
        micros(dotd("q_emb", "c_emb") /
          (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))),
      )
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
  }

  val knnBrute = Q(
    "v_knn_brute",
    (s, d) => exactCosTopK(s, d),
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < $nQueries),
      scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "c.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Metadata-FILTERED vector search — the "where lang='en'" class every
  // vector store serves. Strategy choice, made explicitly: PRE-filter
  // (restrict candidates by the metadata predicate BEFORE any distance
  // math) over POST-filter (score everything, drop mismatches from the
  // top-k). Post-filter must over-fetch unboundedly when the predicate
  // is selective — the top-k of the unfiltered corpus can contain zero
  // eligible rows — while pre-filter's cost SHRINKS with selectivity.
  // Shape at 100 TB: the predicate pushes into the documents scan
  // (PushedFilters), the eligible ids reach the embeddings side as a
  // LEFT SEMI equi-join on the vector id (no embedding ever crosses the
  // wire for an ineligible doc), and only then does the O(dim) scoring
  // + TakeOrdered rank run. Composes with the IVF/PQ tiers the same
  // way (filter the cell-candidate list); the brute tier is the
  // recall-1.0 contract the oracle can pin exactly.
  // ---------------------------------------------------------------------

  val filteredAnn = Q(
    "v_filtered_ann",
    (s, d) => {
      import s.implicits._
      val keep = Tables.documents(s, d).filter($"lang" === "en")
        .select($"doc_id".as("cand_id"))
      val q = vecs(s, d).filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val cand = vecs(s, d)
        .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
        .join(keep, Seq("cand_id"), "left_semi") // pre-filter: before distances
      val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
      cand
        .join(broadcast(q), $"cand_id" =!= $"query_id")
        .withColumn(
          "sim_micros",
          micros(dotd("q_emb", "c_emb") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))),
        )
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < $nQueries),
      keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "c.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id
        JOIN keep k ON k.doc_id = c.vec_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // MMR diversified rerank — maximal marginal relevance over the brute
  // top-pool: pick_1 = argmax sim(q,c); pick_i = argmax over the
  // remaining pool of λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s).
  // The redundancy-pruning second stage every retrieval pipeline wants
  // when the top-k collapses onto near-duplicates (which this corpus'
  // dedup families prove it does). λ = 0.85 in integer percent:
  // mmr = 85·simq − 15·max_sel, all micros-BIGINT — bit-exact
  // cross-engine, no float ordering anywhere.
  //
  // Scale shape: the greedy recursion is QUERY-sized, not corpus-sized
  // — the corpus appears only in the pool build (the same broadcast-
  // probe scan as v_knn_brute, TakeOrdered to mmrPool per query);
  // the pairwise-sim table is |queries|·mmrPool² rows and the mmrPick
  // rounds are unrolled joins on frames that never exceed it. Nothing
  // iterates over the corpus, and nothing leaves the cluster.
  // ---------------------------------------------------------------------

  private val mmrPool = 20
  private val mmrPick = 5

  /** The greedy MMR recursion over a prepared candidate pool.
    * `pool`: (query_id, cand_id, simq) — the per-query top-pool with
    * query similarity in micros. `pairs`: (query_id, a, b, ab) — the
    * pool's pairwise similarities (both directions). Unrolls
    * [[mmrPick]] rounds of argmax(85·simq − 15·max_sel), tie-broken on
    * cand_id; each round's frame never exceeds |queries|·round rows
    * (checkpointed so round i's plan doesn't nest the whole prefix).
    * Exposed for the planted-pool property spec, which pins the
    * recursion against a hand-rolled greedy.
    *
    * Checkpoint discipline, measured: the EAGER checkpoints here (pool,
    * pairs, per-round selected) are deliberately kept — the CC-style
    * all-lazy form was paired-A/B'd at 1.04x (r22, equivalence diff 0;
    * SCALING.md ("Round-22 (optimization round 2)")), below the adoption
    * gate. The loop-invariant pool/pairs frames are scanned once either
    * way; the greedy rounds are query-sized, so the extra
    * materialization jobs are already at the local job floor.
    */
  private[queries] def mmrSelect(pool: DataFrame, pairs: DataFrame): DataFrame = {
    val wSel = Window.partitionBy(col("query_id")).orderBy(col("mmr").desc, col("cand_id"))
    var selected = pool
      .withColumn("mmr", lit(85L) * col("simq"))
      .withColumn("r", row_number().over(wSel))
      .filter(col("r") === 1)
      .select(col("query_id"), col("cand_id"), lit(1L).as("pick"), col("mmr"))
    for (i <- 2 to mmrPick) {
      val maxSel = pairs
        .join(selected.select(col("query_id"), col("cand_id").as("b")), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a")).agg(max(col("ab")).as("max_sel"))
        .withColumnRenamed("a", "cand_id")
      val next = pool
        .join(selected.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
        .join(maxSel, Seq("query_id", "cand_id"))
        .withColumn("mmr", lit(85L) * col("simq") - lit(15L) * col("max_sel"))
        .withColumn("r", row_number().over(wSel))
        .filter(col("r") === 1)
        .select(col("query_id"), col("cand_id"), lit(i.toLong).as("pick"), col("mmr"))
      selected = selected.unionByName(next).localCheckpoint(true)
    }
    selected
  }

  val mmrRerank = Q(
    "v_mmr_rerank",
    (s, d) => {
      import s.implicits._
      val q = vecs(s, d).filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val cand = vecs(s, d).select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
      val wPool = Window.partitionBy($"query_id").orderBy($"simq".desc, $"cand_id")
      val pool = cand
        .join(broadcast(q), $"cand_id" =!= $"query_id")
        .withColumn(
          "simq",
          micros(dotd("q_emb", "c_emb") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))),
        )
        .withColumn("rnk", row_number().over(wPool))
        .filter($"rnk" <= mmrPool)
        .select($"query_id", $"cand_id", $"c_emb", $"simq")
        .localCheckpoint(true) // feeds the pair sims AND every greedy round
      val pairs = pool.select($"query_id", $"cand_id".as("a"), $"c_emb".as("a_emb"))
        .join(pool.select($"query_id", $"cand_id".as("b"), $"c_emb".as("b_emb")),
          Seq("query_id"))
        .filter($"a" =!= $"b")
        .withColumn(
          "ab",
          micros(dotd("a_emb", "b_emb") /
            (sqrt(dotd("a_emb", "a_emb")) * sqrt(dotd("b_emb", "b_emb")))),
        )
        .select($"query_id", $"a", $"b", $"ab")
        .localCheckpoint(true)
      mmrSelect(pool.drop("c_emb"), pairs)
    },
    Some {
      val simExpr = (e1: String, e2: String) =>
        s"""CAST(FLOOR(1e6 * (${oDot(s"$e1.embedding", s"$e2.embedding")} /
           |  (sqrt(${oDot(s"$e1.embedding", s"$e1.embedding")}) * sqrt(${oDot(s"$e2.embedding", s"$e2.embedding")}))))
           |  AS BIGINT)""".stripMargin
      val rounds = (2 to mmrPick).map { i =>
        val prev = s"sel${i - 1}"
        s"""m$i AS (
           |  SELECT pr.query_id, pr.a AS cand_id, MAX(pr.ab) AS max_sel
           |  FROM pairs pr JOIN $prev s ON s.query_id = pr.query_id AND s.cand_id = pr.b
           |  GROUP BY 1, 2),
           |pick$i AS (
           |  SELECT query_id, cand_id, CAST($i AS BIGINT) AS pick, mmr FROM (
           |    SELECT p.query_id, p.cand_id, 85 * p.simq - 15 * m.max_sel AS mmr,
           |           ROW_NUMBER() OVER (PARTITION BY p.query_id
           |             ORDER BY (85 * p.simq - 15 * m.max_sel) DESC, p.cand_id) AS r
           |    FROM pool p
           |    JOIN m$i m ON m.query_id = p.query_id AND m.cand_id = p.cand_id
           |    WHERE NOT EXISTS (SELECT 1 FROM $prev s2
           |                      WHERE s2.query_id = p.query_id AND s2.cand_id = p.cand_id))
           |  WHERE r = 1),
           |sel$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM pick$i)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
                 WHERE vec_id < $nQueries),
      scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "c.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS simq
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
      pool AS (
        SELECT query_id, cand_id, simq FROM (
          SELECT query_id, cand_id, simq,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY simq DESC, cand_id) AS rnk
          FROM scored) WHERE rnk <= $mmrPool),
      pairs AS (
        SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b, ${simExpr("e1", "e2")} AS ab
        FROM pool p1
        JOIN pool p2 ON p1.query_id = p2.query_id AND p1.cand_id <> p2.cand_id
        JOIN embeddings e1 ON e1.vec_id = p1.cand_id
        JOIN embeddings e2 ON e2.vec_id = p2.cand_id),
      sel1 AS (
        SELECT query_id, cand_id, CAST(1 AS BIGINT) AS pick, 85 * simq AS mmr FROM (
          SELECT query_id, cand_id, simq,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY simq DESC, cand_id) AS r
          FROM pool) WHERE r = 1),
      $rounds
      SELECT query_id, cand_id, pick, mmr FROM sel$mmrPick
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // Sign-LSH bucketing: bucket = 8-bit signature of the signs of the first
  // 8 components (a fixed random-hyperplane family — the axis-aligned
  // special case keeps the oracle exact). Bucket histogram proves the
  // partitioner; the ANN variant below joins on the bucket key only.
  // ---------------------------------------------------------------------

  private val signBits = 8

  private val bucketExpr: Column = expr(
    (1 to signBits)
      .map(i => s"(CASE WHEN element_at(embedding, $i) >= 0 THEN 1 ELSE 0 END) * ${1 << (i - 1)}")
      .mkString(" + "))

  private val oBucket: String =
    (1 to signBits)
      .map(i => s"(CASE WHEN embedding[$i] >= 0 THEN 1 ELSE 0 END) * ${1 << (i - 1)}")
      .mkString(" + ")

  val lshBuckets = Q(
    "v_lsh_buckets",
    (s, d) => {
      import s.implicits._
      vecs(s, d)
        .withColumn("bucket", bucketExpr)
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec_id"))
    },
    Some(s"""
      SELECT ($oBucket) AS bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
      FROM embeddings GROUP BY 1
    """.stripMargin.trim),
  )

  /** ANN via sign-LSH: same queries as [[knnBrute]], but candidates are
    * restricted to the query's bucket — the recall/latency trade the scale
    * path makes. Equi-join on bucket, rank within.
    */
  val annLsh = Q(
    "v_ann_lsh",
    (s, d) => {
      import s.implicits._
      val bucketed = vecs(s, d).withColumn("bucket", bucketExpr)
      val q = bucketed
        .filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"), $"bucket".as("q_bucket"))
      val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
      bucketed
        .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"), $"bucket")
        .join(broadcast(q), $"bucket" === $"q_bucket" && $"cand_id" =!= $"query_id")
        .withColumn(
          "sim_micros",
          micros(dotd("q_emb", "c_emb") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))),
        )
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
    },
    Some(s"""
      WITH b AS (SELECT vec_id, embedding, ($oBucket) AS bucket FROM embeddings),
      q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket FROM b
            WHERE vec_id < $nQueries),
      scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "c.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM q JOIN b c ON c.bucket = q.q_bucket AND c.vec_id <> q.query_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // OR-amplified multi-table sign-LSH: L independent 8-bit tables, table l
  // reading components l*8+1 .. l*8+8 (disjoint hyperplane sets — the
  // axis-aligned family keeps the DuckDB oracle exact). A candidate
  // qualifies when it shares the query's bucket in ANY table (OR
  // amplification — the same band/bucket union the banded MinHash in
  // TextOps.minhashLsh performs for Jaccard): per-table collision
  // probability p compounds to 1-(1-p)^L, the standard recall repair for
  // single-table sign-LSH. The query side additionally probes every
  // Hamming-1 neighbor of its bucket (9 probes/table — multiprobe LSH,
  // the bucketed analog of IVF's nprobe dial below): a true neighbor
  // disagreeing on ONE hyperplane of a table is still caught by that
  // table. Measured in VectorRecallSpec on the adversarial random corpus:
  // 0.02 (single table) → 0.10 (L=8 union alone, = 1-(1-p)^L at the
  // measured p≈0.02) → with multiprobe see
  // SCALING.md ("Round-8: ANN recall: multiprobe"). Probing is
  // query-side only: candidate storage stays one slim triple per
  // (vector, table).
  //
  // 100 TB shape: the big side flows as SLIM (vec_id, tbl, bucket) triples
  // (posexplode of one per-row projection — embeddings are NOT replicated
  // L times), candidates come from an equi-join on (tbl, bucket) against
  // the broadcast query keys, and the deduped (query, cand) pair set —
  // bounded by |queries| × L × bucket width — broadcasts back against the
  // embedding table for scoring, so the full vectors are scanned once and
  // never shuffled.
  // ---------------------------------------------------------------------

  private val nTables = dim / signBits // 8 disjoint 8-bit tables

  /** Bucket of table `l`: sign bits of components l*8+1 .. l*8+8. Table 0
    * is exactly [[bucketExpr]], so the multi-table candidate set is a
    * superset of the single-table one (recall can only go up).
    */
  private def bucketExprAt(l: Int): Column = expr(
    (1 to signBits)
      .map(i =>
        s"(CASE WHEN element_at(embedding, ${l * signBits + i}) >= 0 THEN 1 ELSE 0 END) * ${1 << (i - 1)}")
      .mkString(" + "))

  /** DuckDB mirror of [[bucketExprAt]] with the table index as a column. */
  private def oBucketAt(tbl: String): String =
    (1 to signBits)
      .map(i => s"(CASE WHEN embedding[$tbl * $signBits + $i] >= 0 THEN 1 ELSE 0 END) * ${1 << (i - 1)}")
      .mkString(" + ")

  val annLshMulti = Q(
    "v_ann_lsh_multi",
    (s, d) => {
      import s.implicits._
      val base = vecs(s, d)
      val buckets = array((0 until nTables).map(bucketExprAt): _*)
      val slim = base.select($"vec_id", posexplode(buckets).as(Seq("tbl", "bucket")))
      // Hamming-1 multiprobe: the query's own bucket (flip 0) plus each
      // single-bit flip — xor keeps the probe an equi-join key
      val probes = array((0 to signBits).map(b =>
        lit(if (b == 0) 0 else 1 << (b - 1))): _*)
      val qKeys = slim
        .filter($"vec_id" < nQueries)
        .select(
          $"vec_id".as("query_id"),
          $"tbl".as("q_tbl"),
          explode(probes).as("flip"),
          $"bucket")
        .select($"query_id", $"q_tbl", $"bucket".bitwiseXOR($"flip").as("q_bucket"))
      val pairs = slim
        .join(
          broadcast(qKeys),
          $"tbl" === $"q_tbl" && $"bucket" === $"q_bucket" && $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("cand_id"))
        .distinct()
      val qEmb = base
        .filter($"vec_id" < nQueries)
        .select($"vec_id".as("qid"), $"embedding".as("q_emb"))
      val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
      base
        .select($"vec_id", $"embedding".as("c_emb"))
        .join(broadcast(pairs), $"vec_id" === $"cand_id")
        .join(broadcast(qEmb), $"query_id" === $"qid")
        .withColumn(
          "sim_micros",
          micros(dotd("q_emb", "c_emb") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))),
        )
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
    },
    Some(s"""
      WITH tabs AS (
        SELECT e.vec_id, t.tbl, (${oBucketAt("t.tbl")}) AS bucket
        FROM embeddings e
        CROSS JOIN (SELECT unnest(generate_series(0, ${nTables - 1})) AS tbl) t),
      q AS (
        SELECT vec_id AS query_id, tbl, xor(bucket, f.flip) AS bucket
        FROM tabs
        CROSS JOIN (SELECT unnest([${(0 to signBits).map(b => if (b == 0) 0 else 1 << (b - 1)).mkString(", ")}]) AS flip) f
        WHERE vec_id < $nQueries),
      pairs AS (
        SELECT DISTINCT q.query_id, c.vec_id AS cand_id
        FROM q JOIN tabs c ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.query_id),
      scored AS (
        SELECT p.query_id, p.cand_id,
               CAST(FLOOR(1e6 * (${oDot("qe.embedding", "ce.embedding")} /
                 (sqrt(${oDot("qe.embedding", "qe.embedding")}) * sqrt(${oDot("ce.embedding", "ce.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM pairs p
        JOIN embeddings qe ON qe.vec_id = p.query_id
        JOIN embeddings ce ON ce.vec_id = p.cand_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
    bench = true,
  )

  // ---------------------------------------------------------------------
  // Embedding-cosine near-duplicates: pairs (a<b) in the same sign-bucket
  // with cosine ≥ 0.90. The bucket equi-join is the candidate bound; at
  // 100 TB the within-bucket quadratic term is controlled by the number of
  // sign bits (more bits → smaller buckets → higher speed, lower recall).
  // ---------------------------------------------------------------------

  // The synthetic embeddings are near-orthogonal random vectors (pairwise
  // cosine ≈ N(0, 1/64), observed max ≈ 0.48) — 0.25 sits at ~p99 of the
  // pair distribution so the query emits a real, small near-dup set.
  private val nearDupThresholdMicros = 250000L

  /** Mega-bucket guard for the sign-bucket near-dup joins — the vector
    * analog of TextOps' LSH bucket cap: a sign bucket holding more than
    * this many vectors (embedding-space boilerplate — near-identical
    * template vectors) would make the within-bucket pair join quadratic
    * in one key; such buckets are skipped entirely, mirrored in the
    * DuckDB oracles so both engines drop the same buckets. The remedy
    * for corpora that trip it is more sign bits or exact dedup first —
    * the same contract as the text side.
    */
  private val maxBucketVecs = 1 << 10

  /** Keep only rows of buckets within the [[maxBucketVecs]] cap. The gate
    * frame has at most 2^signBits (= 256) rows by construction, so the
    * broadcast hint is safe at ANY corpus size.
    */
  private def gateBuckets(b: DataFrame): DataFrame = {
    val ok = b.groupBy(col("bucket")).agg(count(lit(1)).as("n_b"))
      .filter(col("n_b") <= maxBucketVecs)
      .select(col("bucket"))
    b.join(broadcast(ok), "bucket")
  }

  /** DuckDB mirror of [[gateBuckets]]: `bg` = rows of `b` whose bucket is
    * within the cap.
    */
  private val oracleGatedBuckets: String =
    s"""bg AS (
      |        SELECT b.* FROM b
      |        JOIN (SELECT bucket FROM b GROUP BY 1 HAVING COUNT(*) <= $maxBucketVecs) ok
      |          ON b.bucket = ok.bucket)""".stripMargin

  val nearDupCosine = Q(
    "v_neardup_cosine",
    (s, d) => {
      import s.implicits._
      val b = gateBuckets(vecs(s, d)
        .withColumn("bucket", bucketExpr)
        .select($"vec_id", $"embedding", $"bucket"))
      val l = b.select($"vec_id".as("vec_a"), $"embedding".as("emb_a"), $"bucket")
      val r = b.select($"vec_id".as("vec_b"), $"embedding".as("emb_b"), $"bucket".as("bucket_b"))
      l.join(r, $"bucket" === $"bucket_b" && $"vec_a" < $"vec_b")
        .withColumn(
          "sim_micros",
          micros(dotd("emb_a", "emb_b") /
            (sqrt(dotd("emb_a", "emb_a")) * sqrt(dotd("emb_b", "emb_b")))),
        )
        .filter($"sim_micros" >= nearDupThresholdMicros)
        .select($"vec_a", $"vec_b", $"sim_micros")
    },
    Some(s"""
      WITH b AS (SELECT vec_id, embedding, ($oBucket) AS bucket FROM embeddings),
      $oracleGatedBuckets,
      pairs AS (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
               CAST(FLOOR(1e6 * (${oDot("a.embedding", "c.embedding")} /
                 (sqrt(${oDot("a.embedding", "a.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM bg a JOIN bg c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
      SELECT vec_a, vec_b, sim_micros FROM pairs
      WHERE sim_micros >= $nearDupThresholdMicros
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // IVF-style partitioning: "centroids" = the first 16 vectors (fixed,
  // deterministic training stand-in); every vector is assigned to its
  // nearest centroid by L2² (tie → smaller centroid id). Output is the
  // cell histogram — the partitioner an IVF index would shard by.
  // ---------------------------------------------------------------------

  private val nCells = 16
  private val nProbe = 2
  // ADC survivors per query fed to the refine tier (declared with the
  // family constants: the refine rows' ORACLE strings interpolate it at
  // object init, so it must initialize before them — a forward
  // reference silently bakes 0 into the SQL while the engine's
  // call-time default still sees 50)
  private[graft] val refineC = 50L // shared with ivfPqServeStream's default

  val ivfAssign = Q(
    "v_ivf_assign",
    (s, d) => {
      import s.implicits._
      // assignment core shared with t_semantic_dedup — see [[ivfCells]]
      ivfCells(vecs(s, d))
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec_id"))
    },
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
        FROM dists)
      SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
      FROM ranked WHERE rk = 1 GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Index balance report -- "is my IVF index skewed": one row with cell
  // count, vector total, min/max cell sizes, and the max-vs-mean skew
  // in ppm ((max * n_cells * 1e6) div total -- exact integer). The
  // observability row an operator checks before trusting nprobe latency
  // (one hot cell = one slow probe); scale cost is the assignment pass
  // the index build already runs.
  //
  // It also reports the SEMANTIC-DEDUP CAP exposure: [[semanticPairs]]
  // silently skips cells over [[maxBucketVecs]] (the right call — the
  // alternative is a quadratic join), which at 100 TB with a drifted or
  // mis-sized codebook could zero semantic recall with no signal. So
  // the balance row counts the over-cap cells and the vectors inside
  // them (= vectors with NO pairing eligibility); an operator alerts on
  // n_dropped_vecs > 0 and retrains with more centroids.
  // ---------------------------------------------------------------------

  /** The balance report over any embeddings-shaped frame — exposed so
    * the spec can plant an over-cap cell and assert it is reported.
    */
  private[queries] def indexBalanceOn(emb: DataFrame): DataFrame =
    ivfCells(emb)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_vecs"),
        min(col("n")).as("min_cell"),
        max(col("n")).as("max_cell"),
        sum(when(col("n") > maxBucketVecs, 1L).otherwise(0L)).as("n_overcap_cells"),
        sum(when(col("n") > maxBucketVecs, col("n")).otherwise(0L)).as("n_dropped_vecs"))
      .select(col("n_cells"), col("n_vecs"), col("min_cell"), col("max_cell"),
        expr("(max_cell * n_cells * 1000000) div n_vecs").as("skew_ppm"),
        col("n_overcap_cells"), col("n_dropped_vecs"))

  val indexBalance = Q(
    "v_index_balance",
    (s, d) => indexBalanceOn(vecs(s, d)),
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
        FROM dists),
      sizes AS (SELECT cell, COUNT(*) AS n FROM ranked WHERE rk = 1 GROUP BY 1),
      sums AS (
        SELECT COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_vecs,
               MIN(n) AS min_cell, MAX(n) AS max_cell,
               CAST(SUM(CASE WHEN n > $maxBucketVecs THEN 1 ELSE 0 END) AS BIGINT) AS n_overcap_cells,
               CAST(SUM(CASE WHEN n > $maxBucketVecs THEN n ELSE 0 END) AS BIGINT) AS n_dropped_vecs
        FROM sizes)
      SELECT n_cells, n_vecs, min_cell, max_cell,
             (max_cell * n_cells * 1000000) // n_vecs AS skew_ppm,
             n_overcap_cells, n_dropped_vecs
      FROM sums
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Codebook drift monitor — the day-2 companion of v_index_balance:
  // assign the BASE and DELTA batches (the pack's standard hash split)
  // with the SAME centroids and compare their cell-share distributions.
  // Total-variation distance in ppm is the alert an operator thresholds:
  // arriving data that no longer distributes like the data the codebook
  // was built for is exactly the condition that silently inflates cells
  // past the pairing cap (n_dropped_vecs on v_index_balance) and decays
  // nprobe recall — this row sees the drift BEFORE those symptoms. One
  // assignment scan + a 16-row agg; integer ppm throughout.
  // ---------------------------------------------------------------------

  private val driftCellPpm = 20000L // 2% absolute share shift = drifted

  /** The drift report over any (vec_id, embedding, batch∈{base,delta})
    * frame — exposed so the spec can plant a drifted delta and assert
    * the alert fires.
    */
  private[queries] def indexDriftOn(tagged: DataFrame): DataFrame = {
    val perCell = ivfCells(tagged.select(col("vec_id"), col("embedding")))
      .join(tagged.select(col("vec_id"), col("batch")), "vec_id")
      .groupBy(col("cell"))
      .agg(
        sum(when(col("batch") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("batch") === "delta", 1L).otherwise(0L)).as("n_delta"))
    val tot = perCell.agg(
      sum(col("n_base")).as("nb"), sum(col("n_delta")).as("nd"))
    perCell
      .crossJoin(broadcast(tot)) // the sanctioned one-row scalar cross
      .withColumn("sb", expr("(1000000 * n_base) div nb"))
      .withColumn("sd", expr("(1000000 * n_delta) div nd"))
      .groupBy(col("nb"), col("nd"))
      .agg(
        expr("CAST(SUM(ABS(sb - sd)) div 2 AS BIGINT)").as("tv_ppm"),
        max(abs(col("sb") - col("sd"))).as("max_cell_drift_ppm"),
        sum(when(abs(col("sb") - col("sd")) > driftCellPpm, 1L).otherwise(0L))
          .as("n_cells_drifted"))
      .select(col("nb").as("n_base"), col("nd").as("n_delta"),
        col("tv_ppm"), col("max_cell_drift_ppm"), col("n_cells_drifted"))
  }

  val indexDrift = Q(
    "v_index_drift",
    (s, d) => indexDriftOn(vecs(s, d).withColumn("batch", vBatchOf)),
    Some(s"""
      WITH emb0 AS (
        SELECT vec_id,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(vec_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM embeddings),
      cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      per_cell AS (
        SELECT a.cell,
               CAST(SUM(CASE WHEN e.batch = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN e.batch = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
        FROM assigned a JOIN emb0 e USING (vec_id)
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                     CAST(SUM(n_delta) AS BIGINT) AS nd FROM per_cell),
      shares AS (
        SELECT cell, nb, nd,
               (1000000 * n_base) // nb AS sb,
               (1000000 * n_delta) // nd AS sd
        FROM per_cell CROSS JOIN tot)
      SELECT nb AS n_base, nd AS n_delta,
             CAST(SUM(ABS(sb - sd)) // 2 AS BIGINT) AS tv_ppm,
             CAST(MAX(ABS(sb - sd)) AS BIGINT) AS max_cell_drift_ppm,
             CAST(SUM(CASE WHEN ABS(sb - sd) > $driftCellPpm THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cells_drifted
      FROM shares GROUP BY nb, nd
    """.stripMargin.trim),
  )

  /** IVF search (nprobe=1): each query vector searches only the inverted
    * list of its own nearest-centroid cell — the index-backed ANN path.
    * Queries are vec_id in [nCells, nCells+nQueries) so they're disjoint
    * from the centroid set. In a real deployment the assignment below is a
    * materialized index table partitioned by cell; recomputing it inline
    * keeps this query self-contained and oracle-checkable.
    */
  val ivfSearch = Q(
    "v_ivf_search",
    (s, d) => {
      import s.implicits._
      val cents = vecs(s, d)
        .filter($"vec_id" < nCells)
        .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2_micros".asc, $"cell".asc)
      val assigned = vecs(s, d)
        .join(broadcast(cents))
        .withColumn(
          "d2_micros",
          micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
            - lit(2.0) * dotd("embedding", "c_emb")),
        )
        .withColumn("rk", row_number().over(wAssign))
        .filter($"rk" === 1)
        .select($"vec_id", $"cell", $"embedding")
      val q = assigned
        .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
        .select($"vec_id".as("query_id"), $"cell".as("q_cell"), $"embedding".as("q_emb"))
      val wTop = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
      assigned
        .select($"vec_id".as("cand_id"), $"cell", $"embedding".as("c_emb2"))
        .join(broadcast(q), $"cell" === $"q_cell" && $"cand_id" =!= $"query_id")
        .withColumn(
          "sim_micros",
          micros(dotd("q_emb", "c_emb2") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb2", "c_emb2")))),
        )
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
    },
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT vec_id, cell, embedding,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      q AS (SELECT vec_id AS query_id, cell AS q_cell, embedding AS q_emb FROM assigned
            WHERE vec_id >= $nCells AND vec_id < ${nCells + nQueries}),
      scored AS (
        SELECT q.query_id, a.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "a.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("a.embedding", "a.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM q JOIN assigned a ON a.cell = q.q_cell AND a.vec_id <> q.query_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  /** Document-level embedding near-dup: the dedup-taxonomy entry that ties
    * the text and vector sides together — embeddings join to documents by
    * id (vec_id == doc_id in the synthetic tables, as a real pipeline
    * would carry the document key on its embedding), candidates come from
    * the same sign-bucket prefilter, and the output is document pairs with
    * their language tags (a cross-lingual near-dup check falls out free).
    */
  val docNearDup = Q(
    "v_doc_neardup",
    (s, d) => {
      import s.implicits._
      val docs = graft.sources.Tables.documents(s, d).select($"doc_id", $"lang")
      val b = gateBuckets(vecs(s, d)
        .join(docs, $"vec_id" === $"doc_id")
        .withColumn("bucket", bucketExpr)
        .select($"doc_id", $"lang", $"embedding", $"bucket"))
      val l = b.select($"doc_id".as("doc_a"), $"lang".as("lang_a"), $"embedding".as("emb_a"), $"bucket")
      val r = b.select($"doc_id".as("doc_b"), $"lang".as("lang_b"), $"embedding".as("emb_b"), $"bucket".as("bucket_b"))
      l.join(r, $"bucket" === $"bucket_b" && $"doc_a" < $"doc_b")
        .withColumn(
          "sim_micros",
          micros(dotd("emb_a", "emb_b") /
            (sqrt(dotd("emb_a", "emb_a")) * sqrt(dotd("emb_b", "emb_b")))),
        )
        .filter($"sim_micros" >= nearDupThresholdMicros)
        .select($"doc_a", $"doc_b", $"lang_a", $"lang_b", $"sim_micros")
    },
    Some(s"""
      WITH b AS (
        SELECT d.doc_id, d.lang, e.embedding, ($oBucket) AS bucket
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      $oracleGatedBuckets,
      pairs AS (
        SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.lang AS lang_a, c.lang AS lang_b,
               CAST(FLOOR(1e6 * (${oDot("a.embedding", "c.embedding")} /
                 (sqrt(${oDot("a.embedding", "a.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM bg a JOIN bg c ON a.bucket = c.bucket AND a.doc_id < c.doc_id)
      SELECT doc_a, doc_b, lang_a, lang_b, sim_micros FROM pairs
      WHERE sim_micros >= $nearDupThresholdMicros
    """.stripMargin.trim),
  )

  /** IVF search with nprobe=2: each query probes its TWO nearest-centroid
    * inverted lists. This is the recall dial of IVF — nprobe=1 misses
    * neighbors that sit just across a cell boundary from the query;
    * probing the runner-up cell recovers most of them for ~2× the
    * candidate work (still |cells|/nprobe-fold less than brute force).
    * Candidates stay uniquely keyed: each candidate lives in exactly one
    * cell and a query's probe cells are distinct, so no (query, candidate)
    * dedup is needed before the rank.
    */
  val ivfSearchNprobe = Q(
    "v_ivf_nprobe",
    (s, d) => {
      import s.implicits._
      val cents = vecs(s, d)
        .filter($"vec_id" < nCells)
        .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d2_micros".asc, $"cell".asc)
      val dists = vecs(s, d)
        .join(broadcast(cents))
        .withColumn(
          "d2_micros",
          micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
            - lit(2.0) * dotd("embedding", "c_emb")),
        )
        .withColumn("rk", row_number().over(wAssign))
      // NOT checkpointed — see ivfNprobeRecallWith (r21 A/B negative)
      val assigned = dists
        .filter($"rk" === 1)
        .select($"vec_id", $"cell", $"embedding")
      val probes = dists
        .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries && $"rk" <= nProbe)
        .select($"vec_id".as("query_id"), $"cell".as("q_cell"), $"embedding".as("q_emb"))
      val wTop = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
      assigned
        .select($"vec_id".as("cand_id"), $"cell", $"embedding".as("c_emb2"))
        .join(broadcast(probes), $"cell" === $"q_cell" && $"cand_id" =!= $"query_id")
        .withColumn(
          "sim_micros",
          micros(dotd("q_emb", "c_emb2") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb2", "c_emb2")))),
        )
        .withColumn("rnk", row_number().over(wTop).cast("long"))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
    },
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, cell, embedding,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
        FROM dists),
      assigned AS (SELECT vec_id, cell, embedding FROM ranked WHERE rk = 1),
      probes AS (SELECT vec_id AS query_id, cell AS q_cell, embedding AS q_emb FROM ranked
                 WHERE vec_id >= $nCells AND vec_id < ${nCells + nQueries} AND rk <= $nProbe),
      scored AS (
        SELECT p.query_id, a.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("p.q_emb", "a.embedding")} /
                 (sqrt(${oDot("p.q_emb", "p.q_emb")}) * sqrt(${oDot("a.embedding", "a.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM probes p JOIN assigned a ON a.cell = p.q_cell AND a.vec_id <> p.query_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // IVF recall audit — recall@k of the nprobe=2 search against the EXACT
  // brute-force top-k for the SAME query set, as a hash-gated catalog row
  // rather than a spec-only floor. This is the metric an index operator
  // watches when tuning nprobe/nCells: the approximate path's results are
  // joined against the ground truth and counted per query. At 100 TB the
  // ground truth obviously isn't recomputed corpus-wide per tuning run —
  // it's brute force over THIS fixed probe query set only (one scan,
  // broadcast queries, same shape as v_knn_brute), which is exactly how
  // production recall audits work: a small held-out query panel scored
  // exactly, the index scored approximately, recall measured on the panel.
  // All-integer output (hit counts + floor-percent), so it hash-matches.
  // ---------------------------------------------------------------------

  val ivfRecall = Q(
    "v_ivf_recall",
    (s, d) => {
      import s.implicits._
      // exact ground truth for the IVF query panel (ids disjoint from the
      // centroid set, same as v_ivf_search/_nprobe)
      val q = vecs(s, d)
        .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
      val truth = vecs(s, d)
        .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
        .join(broadcast(q), $"cand_id" =!= $"query_id")
        .withColumn(
          "sim_micros",
          micros(dotd("q_emb", "c_emb") /
            (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))),
        )
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", lit(1L).as("hit"))
      // the approximate side IS the published v_ivf_nprobe definition —
      // the audit can never drift from the operator it audits
      ivfSearchNprobe.spark(s, d)
        .join(broadcast(truth), Seq("query_id", "cand_id"), "left")
        .groupBy($"query_id")
        .agg(
          count(lit(1)).as("n_returned"),
          count($"hit").as("n_hit"))
        .withColumn("recall_pct", floor(lit(100.0) * $"n_hit" / lit(topK)).cast("long"))
    },
    Some(s"""
      WITH ivf AS (SELECT query_id, cand_id FROM (${ivfSearchNprobe.oracle.get})),
      q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
            WHERE vec_id >= $nCells AND vec_id < ${nCells + nQueries}),
      t_scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "c.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
      truth AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
          FROM t_scored) WHERE rnk <= $topK)
      SELECT i.query_id,
             COUNT(*) AS n_returned,
             COUNT(t.cand_id) AS n_hit,
             CAST(FLOOR(100.0 * COUNT(t.cand_id) / $topK) AS BIGINT) AS recall_pct
      FROM ivf i LEFT JOIN truth t
        ON i.query_id = t.query_id AND i.cand_id = t.cand_id
      GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // TRAINED-centroid IVF recall — closes the loop between the trainer
  // and the index it exists for: [[kmeansTrain]] runs `trainSteps` Lloyd
  // iterations (fixed-point integer means, bit-identical across re-runs
  // and partitionings), and the SAME nprobe search + recall audit as
  // v_ivf_recall runs against the trained centroids instead of the
  // first-nCells convention. The oracle unrolls the training rounds as
  // CTEs (the e_pagerank pattern): assignment → per-(cell,dim) integer
  // means → new REAL centroid lists (empty cells keep their previous
  // centroid, like the trainer), then the nprobe+recall blocks verbatim.
  // Cross-engine float parity: each trained component is
  // FLOOR(1.0*sum/n)/1e6 cast to float — IEEE round-to-nearest in both
  // engines, so the centroid bits (and every downstream floored-micros
  // distance) agree exactly.
  //
  // The measured point (pinned in VectorRecallSpec, recorded in
  // SCALING.md ("trained-centroid IVF recall")): trained cells are
  // tighter, so the same nprobe budget covers more of each query's true
  // neighborhood — recall must not drop vs the untrained v_ivf_recall
  // floor.
  // ---------------------------------------------------------------------

  private[queries] val trainSteps = 2

  /** nprobe search + recall audit against an EXPLICIT centroid set — the
    * parameterized core of v_ivf_nprobe + v_ivf_recall (those keep their
    * first-nCells convention; this powers the trained variant and the
    * spec's trained-vs-untrained comparison).
    */
  private[queries] def ivfNprobeRecallWith(
      emb: DataFrame,
      centroids: Seq[(Long, Array[Float])]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = centroids.toDF("cell", "c_emb")
    val wAssign = Window.partitionBy($"vec_id").orderBy($"d2_micros".asc, $"cell".asc)
    val dists = emb
      .join(broadcast(cents))
      .withColumn(
        "d2_micros",
        micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
          - lit(2.0) * dotd("embedding", "c_emb")))
      .withColumn("rk", row_number().over(wAssign))
    // deliberately NOT checkpointed (r21 paired A/B 0.81x,
    // SCALING.md ("Round-21 (optimization round 1)")): the
    // assigned/probes branches execute as concurrent stages of one job,
    // so the double assignment pass is cheaper than a materialization
    // barrier that would serialize the pipeline
    val assigned = dists.filter($"rk" === 1).select($"vec_id", $"cell", $"embedding")
    val probes = dists
      .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries && $"rk" <= nProbe)
      .select($"vec_id".as("query_id"), $"cell".as("q_cell"), $"embedding".as("q_emb"))
    val wTop = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
    val approx = assigned
      .select($"vec_id".as("cand_id"), $"cell", $"embedding".as("c_emb2"))
      .join(broadcast(probes), $"cell" === $"q_cell" && $"cand_id" =!= $"query_id")
      .withColumn(
        "sim_micros",
        micros(dotd("q_emb", "c_emb2") /
          (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb2", "c_emb2")))))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id")
    val q = emb
      .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val wT = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
    val truth = emb
      .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
      .join(broadcast(q), $"cand_id" =!= $"query_id")
      .withColumn(
        "sim_micros",
        micros(dotd("q_emb", "c_emb") /
          (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))))
      .withColumn("rnk", row_number().over(wT))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id", lit(1L).as("hit"))
    approx
      .join(broadcast(truth), Seq("query_id", "cand_id"), "left")
      .groupBy($"query_id")
      .agg(count(lit(1)).as("n_returned"), count($"hit").as("n_hit"))
      .withColumn("recall_pct", floor(lit(100.0) * $"n_hit" / lit(topK)).cast("long"))
  }

  /** One unrolled Lloyd round in oracle SQL: centroids `$prev` →
    * assignment → integer-micros means → centroids `$cur`. Mirrors
    * [[kmeansTrain]]'s arithmetic exactly (see block comment above).
    */
  private def oTrainRound(prev: String, cur: String): String =
    s"""d_$cur AS (
       |  SELECT v.vec_id, v.embedding, c.cell,
       |         CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
       |           - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
       |  FROM embeddings v CROSS JOIN $prev c),
       |a_$cur AS (
       |  SELECT vec_id, cell, embedding FROM (
       |    SELECT vec_id, cell, embedding,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
       |    FROM d_$cur) WHERE rk = 1),
       |m_$cur AS (
       |  SELECT a.cell, dims.d, COUNT(*) AS n,
       |         CAST(SUM(CAST(FLOOR(1e6 * a.embedding[dims.d]) AS BIGINT)) AS BIGINT) AS s
       |  FROM a_$cur a CROSS JOIN dims
       |  GROUP BY 1, 2),
       |ml_$cur AS (
       |  SELECT cell, list(CAST(FLOOR(1.0 * s / n) / 1e6 AS REAL) ORDER BY d) AS c_emb
       |  FROM m_$cur GROUP BY cell),
       |$cur AS (
       |  SELECT p.cell, COALESCE(nw.c_emb, p.c_emb) AS c_emb
       |  FROM $prev p LEFT JOIN ml_$cur nw USING (cell))""".stripMargin

  val ivfRecallTrained = Q(
    "v_ivf_recall_trained",
    (s, d) => {
      val emb = vecs(s, d)
      val (trained, _) = kmeansTrain(emb, trainSteps)
      ivfNprobeRecallWith(emb, trained)
    },
    Some {
      val rounds = (1 to trainSteps)
        .map(i => oTrainRound(if (i == 1) "c_0" else s"c_${i - 1}", s"c_$i"))
        .mkString(",\n      ")
      val cT = s"c_$trainSteps"
      s"""
      WITH c_0 AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                   WHERE vec_id < $nCells),
      dims AS (SELECT unnest(generate_series(1, $dim)) AS d),
      $rounds,
      sd AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN $cT c),
      sr AS (
        SELECT vec_id, cell, embedding,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
        FROM sd),
      assigned AS (SELECT vec_id, cell, embedding FROM sr WHERE rk = 1),
      probes AS (SELECT vec_id AS query_id, cell AS q_cell, embedding AS q_emb FROM sr
                 WHERE vec_id >= $nCells AND vec_id < ${nCells + nQueries} AND rk <= $nProbe),
      scored AS (
        SELECT p.query_id, a.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("p.q_emb", "a.embedding")} /
                 (sqrt(${oDot("p.q_emb", "p.q_emb")}) * sqrt(${oDot("a.embedding", "a.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM probes p JOIN assigned a ON a.cell = p.q_cell AND a.vec_id <> p.query_id),
      ivf AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
          FROM scored) WHERE rnk <= $topK),
      q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
            WHERE vec_id >= $nCells AND vec_id < ${nCells + nQueries}),
      t_scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "c.embedding")} /
                 (sqrt(${oDot("q.q_emb", "q.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
      truth AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
          FROM t_scored) WHERE rnk <= $topK)
      SELECT i.query_id,
             COUNT(*) AS n_returned,
             COUNT(t.cand_id) AS n_hit,
             CAST(FLOOR(100.0 * COUNT(t.cand_id) / $topK) AS BIGINT) AS recall_pct
      FROM ivf i LEFT JOIN truth t
        ON i.query_id = t.query_id AND i.cand_id = t.cand_id
      GROUP BY 1
    """.stripMargin.trim
    },
    bench = true, // the trained-index audit flagship (2 Lloyd rounds + search)
  )

  // ---------------------------------------------------------------------
  // Semantic (embedding-space) dedup — the SemDeDup pass (Abbas et al.
  // 2023) that catches PARAPHRASE duplicates lexical MinHash/SimHash
  // cannot: same meaning, different words → near-identical embeddings,
  // disjoint shingle sets. Composition of machinery this pack already
  // verifies standalone: IVF centroid assignment (v_ivf_assign) buckets
  // the corpus into cells, within-cell cosine pairs (v_neardup_cosine's
  // join shape, keyed by cell instead of sign bucket) generate the
  // candidate edges, connectedComponents (TextOps' pointer-doubling
  // resolver) collapses transitive chains, keep-one = component min.
  //
  // 100 TB shape: the assignment is the sanctioned broadcast-centroids
  // scan; the pair join is an equi-join on cell (never all-pairs), with
  // the same mega-bucket cap as the sign-bucket near-dups (an over-full
  // cell is skipped — the remedy is MORE CENTROIDS, which is also how
  // SemDeDup keeps within-cluster work bounded: k grows ~sqrt(n) with
  // the corpus, so cells stay O(sqrt n) and the quadratic term is
  // O(n^1.5 / k) total, distributed); the component resolver is
  // O(log diameter) rounds of keyed shuffles. The within-cell restriction
  // is the approximation knob — recall vs the brute-force pair set is
  // measured in SemanticDedupSpec and recorded in
  // SCALING.md ("semantic dedup recall").
  // ---------------------------------------------------------------------

  /** Nearest-centroid cell assignment over any embeddings-shaped frame
    * (vec_id, embedding) — v_ivf_assign's core, exposed for composition
    * and the planted-twin spec. Centroids = the first [[nCells]] vectors.
    */
  private[graft] def ivfCells(emb: DataFrame): DataFrame = {
    val cents = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("d2_micros").asc, col("cell").asc)
    emb
      .join(broadcast(cents))
      .withColumn(
        "d2_micros",
        micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
          - lit(2.0) * dotd("embedding", "c_emb")),
      )
      .withColumn("rk", row_number().over(wAssign))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"), col("embedding"))
  }

  /** Within-cell cosine pairs at the near-dup threshold — the semantic
    * candidate edge set. Cells over [[maxBucketVecs]] are skipped (same
    * cap + remedy as the sign-bucket joins).
    */
  private[queries] def semanticPairs(emb: DataFrame): DataFrame = {
    // one assignment pass for the cap agg and both join sides (the
    // broadcast-centroids scan would otherwise re-run per consumer)
    val assigned = ivfCells(emb).localCheckpoint(false)
    val ok = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_c"))
      .filter(col("n_c") <= maxBucketVecs)
      .select(col("cell"))
    val ag = assigned.join(broadcast(ok), "cell")
    val l = ag.select(col("vec_id").as("doc_a"), col("embedding").as("emb_a"), col("cell"))
    val r = ag.select(col("vec_id").as("doc_b"), col("embedding").as("emb_b"), col("cell").as("cell_b"))
    l.join(r, col("cell") === col("cell_b") && col("doc_a") < col("doc_b"))
      .withColumn(
        "sim_micros",
        micros(dotd("emb_a", "emb_b") /
          (sqrt(dotd("emb_a", "emb_a")) * sqrt(dotd("emb_b", "emb_b")))),
      )
      .filter(col("sim_micros") >= nearDupThresholdMicros)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Full semantic dedup over any embeddings-shaped frame: every vec_id
    * with its component representative and keep decision; vectors in no
    * pair keep themselves. Exposed for the planted-twin spec.
    */
  private[queries] def semanticDedupOn(emb: DataFrame): DataFrame = {
    val cc = TextOps.connectedComponentsStats(semanticPairs(emb))
    emb.select(col("vec_id").as("doc_id"))
      .join(cc.labels.select(col("v").as("doc_id"), col("lbl").as("rep0")), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("rep0"), col("doc_id")).as("rep"),
        (col("doc_id") === coalesce(col("rep0"), col("doc_id"))).as("is_kept"),
        lit(cc.converged).as("converged"))
  }

  val semanticDedup = Q(
    "t_semantic_dedup",
    (s, d) => semanticDedupOn(vecs(s, d)),
    Some(s"""
      WITH RECURSIVE cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT vec_id, cell, embedding,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      ok AS (SELECT cell FROM assigned GROUP BY 1 HAVING COUNT(*) <= $maxBucketVecs),
      ag AS (SELECT a.* FROM assigned a JOIN ok USING (cell)),
      pairs AS (
        SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
        FROM ag a JOIN ag c ON a.cell = c.cell AND a.vec_id < c.vec_id
        WHERE CAST(FLOOR(1e6 * (${oDot("a.embedding", "c.embedding")} /
                (sqrt(${oDot("a.embedding", "a.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
              AS BIGINT) >= $nearDupThresholdMicros),
      und AS (
        SELECT doc_a AS v, doc_b AS nbr FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(v, r) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM und)
        UNION
        SELECT u.v, reach.r FROM und u JOIN reach ON u.nbr = reach.v),
      comp AS (SELECT v, MIN(r) AS rep FROM reach GROUP BY v)
      SELECT e.vec_id AS doc_id,
             COALESCE(c.rep, e.vec_id) AS rep,
             e.vec_id = COALESCE(c.rep, e.vec_id) AS is_kept,
             TRUE AS converged
      FROM embeddings e LEFT JOIN comp c ON c.v = e.vec_id
    """.stripMargin.trim),
    bench = true, // the embedding-side dedup flagship (assignment + CC)
  )

  // ---------------------------------------------------------------------
  // One Lloyd (k-means) iteration — the operator that TRAINS the IVF
  // centroids the ANN/semantic-dedup pack consumes. v_ivf_assign et al.
  // read centroids as given; at 100 TB those centroids come from exactly
  // this step run a few dozen times over a sample. Output per (cell,
  // dimension): member count, old and new centroid component, and the
  // per-dimension movement — the convergence signal a training driver
  // watches. All arithmetic is fixed-point micros: each float component
  // is quantized to floor(1e6 x) BIGINT BEFORE summing, so the per-cell
  // sums are order-independent integers (a float sum would differ
  // run-to-run under Spark's nondeterministic partial-agg order and
  // could never hash-match DuckDB); the mean divides two exact integers
  // with one final floor. Precision cost vs float means: < 1e-6 per
  // component per step — noise against k-means' own sampling error.
  //
  // 100 TB shape: [[ivfCells]] assignment (broadcast centroids), then
  // posexplode to (cell, dim) rows and ONE hash agg keyed by (cell, dim)
  // — partial-agg combines map-side, so the exchange carries at most
  // nCells x dim x partitions rows, never the corpus; old centroids
  // re-join by cell (broadcast). Every centroid is also a member vector
  // (distance 0 to itself), so no cell is ever empty and the mean is
  // always defined.
  // ---------------------------------------------------------------------

  /** The Lloyd-step core over any embeddings-shaped frame — exposed so
    * the spec can drive a planted corpus through the real plan and
    * recount it brute-force.
    */
  private[queries] def kmeansStepOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val comp = ivfCells(emb)
      .select($"cell", posexplode($"embedding").as(Seq("d0", "x")))
      .select(
        $"cell",
        ($"d0" + 1).cast("long").as("d"),
        floor(lit(1e6) * $"x".cast("double")).cast("long").as("x_micros"))
      .groupBy($"cell", $"d")
      .agg(count(lit(1)).as("n_vecs"), sum($"x_micros").as("sum_micros"))
      .withColumn("c_new_micros", floor($"sum_micros" * lit(1.0) / $"n_vecs").cast("long"))
    val oldC = emb
      .filter($"vec_id" < nCells)
      .select($"vec_id".as("cell"), posexplode($"embedding").as(Seq("d0", "x")))
      .select(
        $"cell",
        ($"d0" + 1).cast("long").as("d"),
        floor(lit(1e6) * $"x".cast("double")).cast("long").as("c_old_micros"))
    comp
      .join(broadcast(oldC), Seq("cell", "d"))
      .select(
        $"cell", $"d", $"n_vecs", $"c_old_micros", $"c_new_micros",
        abs($"c_new_micros" - $"c_old_micros").as("shift_micros"))
  }

  val kmeansStep = Q(
    "v_kmeans_step",
    (s, d) => kmeansStepOn(vecs(s, d)),
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT vec_id, cell, embedding,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      dims AS (SELECT unnest(generate_series(1, $dim)) AS d),
      comp AS (
        SELECT a.cell, CAST(dims.d AS BIGINT) AS d,
               COUNT(*) AS n_vecs,
               CAST(SUM(CAST(FLOOR(1e6 * a.embedding[dims.d]) AS BIGINT)) AS BIGINT) AS sum_micros
        FROM assigned a CROSS JOIN dims
        GROUP BY 1, 2),
      oldc AS (
        SELECT c.cell, CAST(dims.d AS BIGINT) AS d,
               CAST(FLOOR(1e6 * c.c_emb[dims.d]) AS BIGINT) AS c_old_micros
        FROM cents c CROSS JOIN dims)
      SELECT comp.cell, comp.d, comp.n_vecs, oldc.c_old_micros,
             CAST(FLOOR(1.0 * sum_micros / n_vecs) AS BIGINT) AS c_new_micros,
             ABS(CAST(FLOOR(1.0 * sum_micros / n_vecs) AS BIGINT) - oldc.c_old_micros) AS shift_micros
      FROM comp JOIN oldc USING (cell, d)
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Multi-modality dedup — the round-trip of the whole dedup pack: EXACT
  // (byte-identical text), LEXICAL (MinHash-LSH shingle near-dup), and
  // SEMANTIC (embedding-space near-dup) edges resolved TOGETHER through
  // one connected-components pass, keep-one per component. This is what
  // a production corpus actually needs: a paraphrase chain A =exact= B
  // =lexical= C =semantic= D must collapse to ONE survivor, which three
  // independent dedup passes cannot do (each sees only its own edges;
  // keep-min per modality can keep three different "survivors" of the
  // same transitive cluster).
  //
  // 100 TB shape: strictly the union of its parts, all individually
  // pinned — the exact edges are one hash-window pass, the lexical edges
  // the banded equi-join, the semantic edges the broadcast-centroid
  // assignment + within-cell join (docs without an embedding simply
  // contribute no semantic edges), and the union feeds the O(log n)
  // pointer-doubling resolver. No stage is new; the composition adds one
  // union and nothing else.
  // ---------------------------------------------------------------------

  /** The composed core over any (doc_id, text) + (vec_id, embedding)
    * frames — exposed so the spec can plant a cross-modality chain that
    * only the COMPOSED resolution collapses.
    */
  private[queries] def multimodalDedupOn(docsDf: DataFrame, emb: DataFrame): DataFrame = {
    // docsDf is deliberately NOT checkpointed for its four consumers
    // (exact window, shingle branch, semantic id join, final labels
    // join): the branches execute as concurrent stages of the CC
    // probe's one job, so the rescans are nearly free while a
    // materialization barrier serializes them — paired A/B 1.02x
    // (r22, SCALING.md ("Round-22 (optimization round 2)"); the r19
    // eager-persist probe measured 0.98x), below the 1.15x adoption gate.
    val s = docsDf.sparkSession
    import s.implicits._
    val exactEdges = docsDf
      .withColumn("text_hash", md5($"text"))
      .withColumn("rep", min($"doc_id").over(Window.partitionBy($"text_hash")))
      .filter($"doc_id" =!= $"rep")
      .select($"rep".as("doc_a"), $"doc_id".as("doc_b"))
    val lexEdges = TextOps.minhashPairs(TextOps.shinglesOfDf(docsDf))
    // docs without an embedding row contribute no semantic edges
    val docVecs = emb.join(docsDf.select($"doc_id"), $"vec_id" === $"doc_id")
      .select($"vec_id", $"embedding")
    val semEdges = semanticPairs(docVecs)
    val cc = TextOps.connectedComponentsStats(
      exactEdges.union(lexEdges).union(semEdges))
    docsDf.select($"doc_id")
      .join(cc.labels.select($"v".as("doc_id"), $"lbl".as("rep0")), Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"rep0", $"doc_id").as("rep"),
        ($"doc_id" === coalesce($"rep0", $"doc_id")).as("is_kept"),
        lit(cc.converged).as("converged"))
  }

  val dedupMultimodal = Q(
    "t_dedup_multimodal",
    // fanned docs: the lexical branch's per-token signature pipeline is
    // the CPU-heavy stage and must not inherit the scan's partition count
    // (measured 2.9 s -> 0.8 s at sf0.1 — same lesson as docShingles)
    (s, d) => multimodalDedupOn(TextOps.fannedDocsOf(s, d), vecs(s, d)),
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id, unnest(${TextOps.oracleShingles}) AS sh FROM documents),
      ${TextOps.oracleMinhashSigBands},
      lex_pairs AS (
        ${TextOps.oracleMinhashPairsSelect}),
      eh AS (SELECT doc_id, md5(text) AS h FROM documents),
      er AS (SELECT h, MIN(doc_id) AS rep FROM eh GROUP BY 1),
      exact_pairs AS (
        SELECT er.rep AS doc_a, eh.doc_id AS doc_b
        FROM eh JOIN er USING (h) WHERE eh.doc_id <> er.rep),
      emb AS (
        SELECT e.vec_id, e.embedding FROM embeddings e
        JOIN documents d ON e.vec_id = d.doc_id),
      cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM emb WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM emb v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT vec_id, cell, embedding,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      ok AS (SELECT cell FROM assigned GROUP BY 1 HAVING COUNT(*) <= $maxBucketVecs),
      ag AS (SELECT a.* FROM assigned a JOIN ok USING (cell)),
      sem_pairs AS (
        SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
        FROM ag a JOIN ag c ON a.cell = c.cell AND a.vec_id < c.vec_id
        WHERE CAST(FLOOR(1e6 * (${oDot("a.embedding", "c.embedding")} /
                (sqrt(${oDot("a.embedding", "a.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
              AS BIGINT) >= $nearDupThresholdMicros),
      pairs AS (
        SELECT doc_a, doc_b FROM lex_pairs
        UNION SELECT doc_a, doc_b FROM exact_pairs
        UNION SELECT doc_a, doc_b FROM sem_pairs),
      und AS (
        SELECT doc_a AS v, doc_b AS nbr FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(v, r) AS (
        SELECT v, v FROM (SELECT DISTINCT v FROM und)
        UNION
        SELECT u.v, reach.r FROM und u JOIN reach ON u.nbr = reach.v),
      comp AS (SELECT v, MIN(r) AS rep FROM reach GROUP BY v)
      SELECT d.doc_id,
             COALESCE(c.rep, d.doc_id) AS rep,
             d.doc_id = COALESCE(c.rep, d.doc_id) AS is_kept,
             TRUE AS converged
      FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
    """.stripMargin.trim),
    bench = true, // the composed dedup flagship: all three edge modalities + CC
  )

  // ---------------------------------------------------------------------
  // Incremental SEMANTIC dedup — the embedding-space member of the
  // delta-ingest family (t_delta_dedup = exact hash, t_delta_neardup =
  // lexical LSH): every delta vector is checked for near-dup cosine
  // against the BASE corpus within its IVF cell, cross-set only —
  // base-base and delta-delta pairs are never materialized (the base is
  // already deduped; delta-delta resolution happens when the delta is
  // folded into the next full pass). Verdict per delta vector:
  // `neardup_of_base` or `kept`.
  //
  // Centroids follow the pack's fixed convention (first nCells vectors);
  // in production they are the trained index the base corpus already
  // uses, so delta assignment needs no retraining — exactly why IVF
  // makes incremental ingest cheap: one broadcast-centroid scan over the
  // DELTA, a cell-keyed equi-join against base cells, nothing corpus².
  // ---------------------------------------------------------------------

  private val vBatchOf: Column =
    when(TextOps.h60(concat(col("vec_id").cast("string"), lit(":batch"))) % 10 >= 8,
      lit("delta")).otherwise(lit("base"))

  /** The operator core over any (vec_id, embedding, batch∈{base,delta})
    * frame — exposed so the spec can drive planted base/delta sets
    * through the real plan.
    */
  private[queries] def deltaSemanticOn(tagged: DataFrame): DataFrame = {
    val s = tagged.sparkSession
    import s.implicits._
    // one assignment pass for the cap agg and both join sides (same
    // single-pass-by-construction economics as semanticPairs)
    val assigned = ivfCells(tagged.select($"vec_id", $"embedding"))
      .join(tagged.select($"vec_id", $"batch"), "vec_id")
      .localCheckpoint(false)
    val ok = assigned.groupBy($"cell").agg(count(lit(1)).as("n_c"))
      .filter($"n_c" <= maxBucketVecs)
      .select($"cell")
    val ag = assigned.join(broadcast(ok), "cell")
    val deltaSide = ag.filter($"batch" === "delta")
      .select($"vec_id".as("d_id"), $"embedding".as("d_emb"), $"cell")
    val baseSide = ag.filter($"batch" === "base")
      .select($"vec_id".as("b_id"), $"embedding".as("b_emb"), $"cell".as("cell_b"))
    val cand = deltaSide.join(baseSide, $"cell" === $"cell_b")
      .withColumn(
        "sim_micros",
        micros(dotd("d_emb", "b_emb") /
          (sqrt(dotd("d_emb", "d_emb")) * sqrt(dotd("b_emb", "b_emb")))))
      .filter($"sim_micros" >= nearDupThresholdMicros)
      .select($"d_id".as("vec_id"))
      .distinct()
    tagged.filter($"batch" === "delta").select($"vec_id")
      .join(cand.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(
        $"vec_id",
        when($"hit".isNotNull, lit("neardup_of_base")).otherwise(lit("kept")).as("verdict"))
  }

  val deltaSemantic = Q(
    "t_delta_semantic",
    (s, d) => deltaSemanticOn(vecs(s, d).withColumn("batch", vBatchOf)),
    Some(s"""
      WITH emb0 AS (
        SELECT vec_id, embedding,
               CASE WHEN ${CurationOps.oMd5Bucket("CAST(vec_id AS VARCHAR) || ':batch'", 10)} >= 8
                    THEN 'delta' ELSE 'base' END AS batch
        FROM embeddings),
      cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT vec_id, cell, embedding,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      ok AS (SELECT cell FROM assigned GROUP BY 1 HAVING COUNT(*) <= $maxBucketVecs),
      ag AS (SELECT a.vec_id, a.cell, a.embedding, e.batch
             FROM assigned a JOIN ok USING (cell) JOIN emb0 e USING (vec_id)),
      cand AS (
        SELECT DISTINCT a.vec_id
        FROM ag a JOIN ag b ON a.cell = b.cell AND a.batch = 'delta' AND b.batch = 'base'
        WHERE CAST(FLOOR(1e6 * (${oDot("a.embedding", "b.embedding")} /
                (sqrt(${oDot("a.embedding", "a.embedding")}) * sqrt(${oDot("b.embedding", "b.embedding")}))))
              AS BIGINT) >= $nearDupThresholdMicros)
      SELECT e.vec_id,
             CASE WHEN c.vec_id IS NOT NULL THEN 'neardup_of_base' ELSE 'kept' END AS verdict
      FROM emb0 e LEFT JOIN cand c USING (vec_id)
      WHERE e.batch = 'delta'
    """.stripMargin.trim),
  )

  /** Nearest-centroid assignment against an EXPLICIT centroid set — the
    * parameterized core [[ivfCells]] specializes with its first-nCells
    * convention. Same floored-micros distance + lowest-cell tiebreak.
    */
  private[graft] def ivfCellsWith(
      emb: DataFrame,
      centroids: Seq[(Long, Array[Float])]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = centroids.toDF("cell", "c_emb")
    val wAssign = Window.partitionBy($"vec_id").orderBy($"d2_micros".asc, $"cell".asc)
    emb
      .join(broadcast(cents))
      .withColumn(
        "d2_micros",
        micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
          - lit(2.0) * dotd("embedding", "c_emb")))
      .withColumn("rk", row_number().over(wAssign))
      .filter($"rk" === 1)
      .select($"vec_id", $"cell", $"embedding")
  }

  /** Multi-step Lloyd trainer — the driver loop that turns
    * [[kmeansStepOn]]'s single iteration into usable IVF centroids:
    * assign → per-(cell, dim) integer-micros means → new centroids,
    * repeated `steps` times. Per-step driver traffic is the nCells x dim
    * mean table (the sanctioned O(cells x dim) hand-off — 1,024 rows at
    * the catalog's 16 x 64); the corpus itself only ever flows through
    * the broadcast-centroid assignment scan and one keyed partial-agg
    * shuffle per step, identical to the v_kmeans_step plan.
    *
    * Determinism: every mean is floor(sum(floor(1e6 x)) / n) — the same
    * order-independent fixed-point arithmetic as the catalog row, so a
    * re-run (or a different partitioning) trains bit-identical centroids.
    * Step 1 against the untouched corpus equals `v_kmeans_step`'s
    * published `c_new_micros` exactly (KmeansTrainSpec pins this).
    *
    * Returns the trained centroids plus the max component shift (micros)
    * per step — the convergence signal a caller thresholds.
    */
  def kmeansTrain(
      emb: DataFrame,
      steps: Int): (Seq[(Long, Array[Float])], Seq[Long]) = {
    val s = emb.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerDotD(s)
    // Driver-traffic guard (r20/r21 verdict item): the per-step mean
    // collect is O(cells x dim) — trivial at the catalog's 16 x 64, a
    // driver bottleneck for a production codebook (65k cells x 768 dims
    // = 50M rows/step). Past the configurable budget the join-based
    // update runs instead; KmeansTrainSpec pins the two paths
    // bit-identical (same floored-micros fixed-point arithmetic).
    val driverMax =
      s.conf.get("spark.graft.kmeans.driverCellsDimMax", "65536").toLong
    if (nCells.toLong * dim > driverMax)
      return kmeansTrainDistributed(emb, steps)
    var cents: Seq[(Long, Array[Float])] = emb.filter($"vec_id" < nCells)
      .select($"vec_id", $"embedding")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    val shifts = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to steps) {
      val means = ivfCellsWith(emb, cents)
        .select($"cell", posexplode($"embedding").as(Seq("d0", "x")))
        .select($"cell", $"d0",
          floor(lit(1e6) * $"x".cast("double")).cast("long").as("x_micros"))
        .groupBy($"cell", $"d0")
        .agg(count(lit(1)).as("n"), sum($"x_micros").as("s"))
        .withColumn("m", floor($"s" * lit(1.0) / $"n").cast("long"))
        .select($"cell", $"d0", $"m")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val next = cents.map { case (cell, old) =>
        val byDim = means.collect { case (c, d0, m) if c == cell => d0 -> m }.toMap
        // a cell that lost every member keeps its centroid (can't happen
        // while centroids are member vectors, but explicit > implicit)
        val v = Array.tabulate(old.length)(d0 =>
          byDim.get(d0).map(_ / 1e6).getOrElse(old(d0).toDouble))
        (cell, v.map(_.toFloat))
      }
      val shift = cents.zip(next).map { case ((_, a), (_, b)) =>
        a.zip(b).map { case (x, y) =>
          math.abs(math.floor(1e6 * x) - math.floor(1e6 * y)).toLong
        }.max
      }.max
      shifts += shift
      cents = next
    }
    (cents, shifts.toSeq)
  }

  /** [[kmeansTrain]]'s join-based twin for codebooks past the driver
    * budget: centroids live in a (cell, c_emb) frame; each Lloyd step is
    * assignment (broadcast centroid panel — the same plan as the driver
    * path), a keyed (cell, dim) integer-micros mean, a per-cell array
    * rebuild, and a left join onto the old centroids (an empty cell
    * keeps its centroid). Per-step driver traffic is ONE scalar — the
    * max component shift, which doubles as the materializing action for
    * the step's lazy checkpoint (the CC one-job-per-round discipline).
    * The only O(cells x dim) hand-off left is the final collect of the
    * trained artifact itself, which the caller's Seq contract requires.
    *
    * Bit-identity with the driver loop (KmeansTrainSpec pins it): every
    * mean is floor(sum(floor(1e6 x)) / n) narrowed through the same
    * double-then-float casts, the assignment uses the identical
    * floored-micros distance and (d2 asc, cell asc) tiebreak, and the
    * per-dim posexplode emits every dimension of every member, so the
    * per-cell coalesce fallback triggers exactly where the driver
    * path's per-dim getOrElse does (empty cells only).
    */
  private[queries] def kmeansTrainDistributed(
      emb: DataFrame,
      steps: Int): (Seq[(Long, Array[Float])], Seq[Long]) = {
    val s = emb.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerDotD(s)
    var cents = emb.filter($"vec_id" < nCells)
      .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
      .localCheckpoint(false)
    val shifts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val wAssign = Window.partitionBy($"vec_id").orderBy($"d2_micros".asc, $"cell".asc)
    for (_ <- 1 to steps) {
      val assigned = emb.select($"vec_id", $"embedding")
        .join(broadcast(cents))
        .withColumn(
          "d2_micros",
          micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
            - lit(2.0) * dotd("embedding", "c_emb")))
        .withColumn("rk", row_number().over(wAssign))
        .filter($"rk" === 1)
        .select($"cell", $"embedding")
      val newArr = assigned
        .select($"cell", posexplode($"embedding").as(Seq("d0", "x")))
        .select($"cell", $"d0",
          floor(lit(1e6) * $"x".cast("double")).cast("long").as("xm"))
        .groupBy($"cell", $"d0")
        .agg(count(lit(1)).as("n"), sum($"xm").as("sm"))
        .withColumn("m", floor($"sm" * lit(1.0) / $"n").cast("long"))
        .groupBy($"cell")
        .agg(array_sort(collect_list(struct($"d0", $"m"))).as("dm"))
        .select($"cell",
          expr("transform(dm, p -> cast(cast(p.m as double) / 1e6 as float))")
            .as("c_new"))
      val next = cents.join(newArr, Seq("cell"), "left")
        .select($"cell",
          coalesce($"c_new", $"c_emb").as("c_emb"),
          $"c_emb".as("c_old"))
        .localCheckpoint(false)
      val shift = next.agg(
        max(expr(
          """aggregate(zip_with(c_old, c_emb,
            |  (x, y) -> abs(cast(floor(1e6 * cast(x as double)) as bigint)
            |          - cast(floor(1e6 * cast(y as double)) as bigint))),
            |  cast(0 as bigint), (a, v) -> greatest(a, v))""".stripMargin)))
        .head().getLong(0)
      shifts += shift
      cents = next.select($"cell", $"c_emb")
    }
    val out = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    (out, shifts.toSeq)
  }

  // ---------------------------------------------------------------------
  // Cluster-balanced sampling — the embedding-space diversity pass
  // (DataComp/MetaCLIP-style balancing): web-scale corpora are dominated
  // by a few dense clusters (boilerplate templates, one over-crawled
  // topic); capping every cluster's contribution at `balanceCap`
  // expected members flattens that head while keeping tail clusters
  // whole. Membership = the pack's IVF cell assignment; the keep
  // decision is a DETERMINISTIC hash gate at rate min(1, cap/|cell|) —
  // the stable-id sampling rule t_stratified_sample pins (re-runs and
  // corpus growth never flip an existing vector's verdict, rand() would).
  //
  // 100 TB shape: one broadcast-centroid assignment pass over the
  // vectors, a |cells|-row size agg broadcast back, and a per-row hash
  // gate — the corpus is never shuffled. Emits verdict rows (not just
  // survivors) so the same frame audits the rates.
  // ---------------------------------------------------------------------

  private val balanceCap = 24

  /** The operator core over any (vec_id, embedding) frame — exposed so
    * the spec can plant skewed/tiny cells and check rates + determinism.
    */
  private[queries] def clusterBalanceOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val assigned = ivfCells(emb).select($"vec_id", $"cell")
    val sizes = assigned.groupBy($"cell").agg(count(lit(1)).cast("long").as("n_c"))
    assigned
      .join(broadcast(sizes), "cell")
      .withColumn("rate_ppm",
        expr(s"CAST(least(1000000, (1000000 * $balanceCap) div n_c) AS BIGINT)"))
      .withColumn("bucket",
        TextOps.h60(concat($"vec_id".cast("string"), lit(":cb"))) % 1000000L)
      .select($"vec_id", $"cell", $"n_c", $"rate_ppm",
        ($"bucket" < $"rate_ppm").as("is_kept"))
  }

  val clusterBalance = Q(
    "v_cluster_balance",
    (s, d) => clusterBalanceOn(vecs(s, d)),
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_c FROM assigned GROUP BY 1)
      SELECT a.vec_id, a.cell, s.n_c,
             CAST(LEAST(1000000, (1000000 * $balanceCap) // s.n_c) AS BIGINT) AS rate_ppm,
             (('0x' || substr(md5(CAST(a.vec_id AS VARCHAR) || ':cb'), 1, 15))::UBIGINT::BIGINT
               % 1000000)
               < CAST(LEAST(1000000, (1000000 * $balanceCap) // s.n_c) AS BIGINT) AS is_kept
      FROM assigned a JOIN sizes s USING (cell)
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search") — the compression half of the IVF-PQ index
  // every billion-vector ANN deployment runs. The 64-dim vector is split
  // into 4 disjoint 16-dim subspaces; each sub-vector is snapped to its
  // nearest of 16 per-subspace codewords, so a 256-byte float vector
  // becomes 4 code bytes (64× compression) and search scans CODES, not
  // floats. Codebook = the sub-vectors of the first 16 vectors — the same
  // fixed deterministic training stand-in the IVF family uses for its
  // centroids (a production codebook comes from kmeansTrain per subspace;
  // the assignment/search plans below are identical either way).
  //
  // 100 TB shape: encoding is ONE scan — codewords (64 tiny rows)
  // broadcast, argmin via a partial-aggregatable min(struct) keyed by
  // (vec, sub) where all of a vector's rows are map-side co-located (no
  // window over n×m×k rows, no shuffle of the corpus). Search is the
  // standard ADC (asymmetric distance) scan: a per-query lookup table of
  // query-sub-to-codeword distances (|q|×m×k = 320 rows) broadcasts
  // against the code table, and the exchange carries only the partially
  // aggregated (query, vec) sums. Exact fixed-point micros everywhere:
  // per-subspace distances are floored to BIGINT before the ADC sum, so
  // the sum is order-independent and hash-matches DuckDB.
  // ---------------------------------------------------------------------

  private[graft] val pqM = 4 // subspaces
  private[graft] val pqSubDim = dim / pqM // 16 dims each
  private val pqK = 16 // codewords per subspace

  /** DuckDB dot product over [[pqSubDim]]-length list slices — same
    * left-to-right double fold as [[oDot]], shorter range.
    */
  private def oDotSub(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, $pqSubDim),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  /** (sub, code, c_sub) codeword frame — 64 rows, always broadcast. */
  private def pqCodewords(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb
      .filter($"vec_id" < pqK)
      .select(
        $"vec_id".as("code"),
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"),
        $"embedding".as("c_full"))
      .select($"code", $"sub",
        expr(s"slice(c_full, sub * $pqSubDim + 1, $pqSubDim)").as("c_sub"))
  }

  /** Per-(vector, subspace) sliced frame. */
  private def pqSubVectors(emb: DataFrame, idCol: String): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    emb
      .select(
        col("vec_id").as(idCol),
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"),
        $"embedding".as("v_full"))
      .select(col(idCol), $"sub",
        expr(s"slice(v_full, sub * $pqSubDim + 1, $pqSubDim)").as("v_sub"))
  }

  /** The encode core over any embeddings-shaped frame: (vec_id, sub,
    * code, err_micros) — argmin codeword per subspace, tie → smaller
    * code. Exposed for the spec (planted-codeword corpus through the
    * real plan) and reused verbatim by the ADC search below.
    */
  private[graft] def pqCodesOn(emb: DataFrame): DataFrame =
    pqCodesWith(emb, pqCodewords(emb))

  /** [[pqCodesOn]] against an EXPLICIT (sub, code, c_sub) codeword frame
    * — powers the trained-codebook variant below.
    */
  private[graft] def pqCodesWith(emb: DataFrame, cw: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    pqSubVectors(emb, "vec_id")
      .join(broadcast(cw), Seq("sub"))
      .withColumn(
        "d2_micros",
        micros(dotd("v_sub", "v_sub") + dotd("c_sub", "c_sub")
          - lit(2.0) * dotd("v_sub", "c_sub")))
      // argmin WITHOUT a window: (d2, code) packed into ONE long —
      // packed = d2 * k + code is order-isomorphic to the (d2, code)
      // lexicographic tie-break because code < k — so the argmin is a
      // plain min(long), which HASH-aggregates (a min over a struct
      // column falls back to SortAggregate: it would sort every
      // partition of the n×m×k scored rows). Partial agg combines
      // map-side — every (vec, sub) group's k rows are co-located (they
      // came from exploding one row), so the exchange carries n×m
      // pre-combined rows, never n×m×k.
      .withColumn("packed", $"d2_micros" * lit(pqK.toLong) + $"code")
      .groupBy($"vec_id", $"sub")
      .agg(min($"packed").as("p"))
      // pmod (not %) decodes correctly even if float fuzz makes a
      // zero distance floor to -1 micros
      .withColumn("code", pmod($"p", lit(pqK.toLong)))
      .select(
        $"vec_id",
        $"sub".cast("long").as("sub"),
        $"code",
        expr(s"(p - code) div ${pqK}L").as("err_micros"))
  }

  /** Shared oracle CTE chain: subs/cw/vsub/scored/codes — the DuckDB
    * mirror of [[pqCodesOn]], reused by all three PQ oracles —
    * parameterized by the corpus relation (`v_ivfpq_asof` swaps in the
    * pre-append split).
    */
  private def oPqCodesCteFrom(src: String): String =
    s"""subs AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS sub),
       |      cw AS (
       |        SELECT s.sub, c.vec_id AS code,
       |               list_slice(c.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS c_sub
       |        FROM $src c CROSS JOIN subs s WHERE c.vec_id < $pqK),
       |      vsub AS (
       |        SELECT v.vec_id, s.sub,
       |               list_slice(v.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS v_sub
       |        FROM $src v CROSS JOIN subs s),
       |      pq_scored AS (
       |        SELECT vsub.vec_id, vsub.sub, cw.code,
       |               CAST(FLOOR(1e6 * (${oDotSub("v_sub", "v_sub")} + ${oDotSub("c_sub", "c_sub")}
       |                 - 2.0 * ${oDotSub("v_sub", "c_sub")})) AS BIGINT) AS d2_micros
       |        FROM vsub JOIN cw ON vsub.sub = cw.sub),
       |      codes AS (
       |        SELECT vec_id, CAST(sub AS BIGINT) AS sub, code, d2_micros AS err_micros FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |                                       ORDER BY d2_micros ASC, code ASC) AS rk
       |          FROM pq_scored) WHERE rk = 1)""".stripMargin

  private def oPqCodesCte: String = oPqCodesCteFrom("embeddings")

  val pqEncode = Q(
    "v_pq_encode",
    (s, d) => pqCodesOn(vecs(s, d)),
    Some(s"""
      WITH $oPqCodesCte
      SELECT vec_id, sub, code, err_micros FROM codes
    """.stripMargin.trim),
  )

  /** ADC top-k: distance(query, vec) ≈ Σ_sub d2(query_sub,
    * codeword[code(vec, sub)]). The query panel is the IVF family's
    * (vec_id in [nCells, nCells+nQueries), disjoint from the codeword
    * ids); candidates are the whole encoded corpus minus self.
    */
  /** The trained codebook as a driver-side value: (sub, code, c_sub) —
    * m×k = 64 tiny rows, the O(codebook) hand-off the streaming encoder
    * folds into its plan (same sanctioned pattern as ivfAssignStream's
    * centroid literal).
    */
  private[graft] def pqCodebook(emb: DataFrame): Seq[(Int, Long, Array[Float])] =
    pqCodewords(emb).collect().map { r =>
      (r.getAs[Int]("sub"), r.getAs[Long]("code"),
        r.getAs[scala.collection.Seq[Float]]("c_sub").toArray)
    }.toSeq.sortBy(c => (c._1, c._2))

  /** Per-query ADC lookup table: (query_id, sub, code, d2_micros) —
    * |queries|×m×k rows, always broadcast.
    */
  private def pqLut(emb: DataFrame): DataFrame =
    pqLutWith(emb, pqCodewords(emb))

  private def pqLutWith(emb: DataFrame, cw: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    pqSubVectors(
      emb.filter($"vec_id" >= pqK && $"vec_id" < pqK + nQueries), "query_id")
      .join(broadcast(cw), Seq("sub"))
      .withColumn(
        "d2_micros",
        micros(dotd("v_sub", "v_sub") + dotd("c_sub", "c_sub")
          - lit(2.0) * dotd("v_sub", "c_sub")))
      .select($"query_id", $"sub".cast("long").as("sub"), $"code", $"d2_micros")
  }

  /** The ADC-search core over any embeddings-shaped frame — exposed for
    * the brute-force differential spec.
    */
  private[queries] def pqSearchOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val lut = pqLut(emb)
    val w = Window.partitionBy($"query_id").orderBy($"adc_micros".asc, $"cand_id")
    pqCodesOn(emb)
      .join(broadcast(lut), Seq("sub", "code"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"d2_micros").as("adc_micros"))
      .select($"query_id", $"vec_id".as("cand_id"), $"adc_micros")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
  }

  val pqSearch = Q(
    "v_pq_search",
    (s, d) => pqSearchOn(vecs(s, d)),
    Some(s"""
      WITH $oPqCodesCte,
      q AS (
        SELECT v.vec_id AS query_id, CAST(s.sub AS BIGINT) AS sub,
               list_slice(v.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS q_sub
        FROM embeddings v CROSS JOIN subs s
        WHERE v.vec_id >= $pqK AND v.vec_id < ${pqK + nQueries}),
      lut AS (
        SELECT q.query_id, q.sub, cw.code,
               CAST(FLOOR(1e6 * (${oDotSub("q_sub", "q_sub")} + ${oDotSub("c_sub", "c_sub")}
                 - 2.0 * ${oDotSub("q_sub", "c_sub")})) AS BIGINT) AS d2_micros
        FROM q JOIN cw ON q.sub = cw.sub),
      adc AS (
        SELECT l.query_id, c.vec_id AS cand_id, CAST(SUM(l.d2_micros) AS BIGINT) AS adc_micros
        FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code AND c.vec_id <> l.query_id
        GROUP BY 1, 2)
      SELECT query_id, cand_id, adc_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micros ASC, cand_id ASC) AS rnk
      FROM adc QUALIFY rnk <= $topK
    """.stripMargin.trim),
    bench = true, // the ADC scan is the 100 TB ANN hot path — track it
  )

  /** Recall audit of the ADC search against exact L2² top-k on the same
    * query panel — the same honesty gate v_ivf_recall applies to IVF
    * (PQ trades recall for 64× compression; the audit quantifies it).
    */
  val pqRecall = Q(
    "v_pq_recall",
    (s, d) => {
      import s.implicits._
      val q = vecs(s, d)
        .filter($"vec_id" >= pqK && $"vec_id" < pqK + nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val w = Window.partitionBy($"query_id").orderBy($"d2x_micros".asc, $"cand_id")
      val truth = vecs(s, d)
        .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
        .join(broadcast(q), $"cand_id" =!= $"query_id")
        .withColumn(
          "d2x_micros",
          micros(dotd("q_emb", "q_emb") + dotd("c_emb", "c_emb")
            - lit(2.0) * dotd("q_emb", "c_emb")))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", lit(1L).as("hit"))
      pqSearch.spark(s, d)
        .join(broadcast(truth), Seq("query_id", "cand_id"), "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("n_returned"), count($"hit").as("n_hit"))
        .withColumn("recall_pct", floor(lit(100.0) * $"n_hit" / lit(topK)).cast("long"))
    },
    Some(s"""
      WITH pq AS (SELECT query_id, cand_id FROM (${pqSearch.oracle.get})),
      q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
            WHERE vec_id >= $pqK AND vec_id < ${pqK + nQueries}),
      t_scored AS (
        SELECT q.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.q_emb", "q.q_emb")} + ${oDot("c.embedding", "c.embedding")}
                 - 2.0 * ${oDot("q.q_emb", "c.embedding")})) AS BIGINT) AS d2x_micros
        FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
      truth AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2x_micros ASC, cand_id) AS rnk
          FROM t_scored) WHERE rnk <= $topK)
      SELECT p.query_id,
             COUNT(*) AS n_returned,
             COUNT(t.cand_id) AS n_hit,
             CAST(FLOOR(100.0 * COUNT(t.cand_id) / $topK) AS BIGINT) AS recall_pct
      FROM pq p LEFT JOIN truth t
        ON p.query_id = t.query_id AND p.cand_id = t.cand_id
      GROUP BY 1
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // TRAINED-codebook PQ recall — the PQ sibling of v_ivf_recall_trained:
  // [[kmeansTrain]] runs per SUBSPACE (the 16-dim slices are independent
  // k-means problems — exactly how FAISS trains PQ codebooks), and the
  // same ADC search + recall audit as v_pq_recall runs against the
  // trained codewords. The oracle trains all four subspaces in ONE CTE
  // chain keyed by (sub, cell) — independent subspaces make the keyed
  // form equal the per-subspace driver loops — then reruns the
  // v_pq_search blocks with the trained codeword table. Measured uplift
  // in SCALING.md ("trained-centroid IVF recall" section, PQ rows);
  // VectorRecallSpec pins trained >= untrained on the panel.
  // ---------------------------------------------------------------------

  /** Per-subspace trained codewords as a (sub, code, c_sub) frame.
    *
    * All four subspaces train in ONE keyed job per Lloyd round —
    * assignment ranked per (vec, sub), means keyed by (sub, cell, dim)
    * — instead of four sequential [[kmeansTrain]] loops: the subspaces
    * are independent k-means problems, so keying by `sub` computes the
    * identical fixed-point arithmetic (same floored-micros distances,
    * same (d2 asc, code asc) tiebreak, same integer means, same
    * empty-cell inherit) while scanning the corpus 2x instead of 8x.
    * Measured: v_pq_recall_trained 3.26 s -> see
    * SCALING.md ("trained-codebook PQ recall"). Driver traffic per round is the
    * m x k x subDim mean table (1,024 rows).
    */
  private def trainedPqCodewords(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerDotD(s)
    var cw: Seq[(Int, Long, Array[Float])] = pqCodebook(emb)
    for (_ <- 1 to trainSteps) {
      val cwDf = cw.toDF("sub", "code", "c_sub")
      val wA = Window.partitionBy($"vec_id", $"sub").orderBy($"d2_micros".asc, $"code".asc)
      val means = pqSubVectors(emb, "vec_id")
        .join(broadcast(cwDf), Seq("sub"))
        .withColumn(
          "d2_micros",
          micros(dotd("v_sub", "v_sub") + dotd("c_sub", "c_sub")
            - lit(2.0) * dotd("v_sub", "c_sub")))
        .withColumn("rk", row_number().over(wA))
        .filter($"rk" === 1)
        .select($"sub", $"code".as("cell"), posexplode($"v_sub").as(Seq("d0", "x")))
        .select($"sub", $"cell", $"d0",
          floor(lit(1e6) * $"x".cast("double")).cast("long").as("xm"))
        .groupBy($"sub", $"cell", $"d0")
        .agg(count(lit(1)).as("n"), sum($"xm").as("sm"))
        .withColumn("m", floor($"sm" * lit(1.0) / $"n").cast("long"))
        .select($"sub", $"cell", $"d0", $"m")
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1), r.getInt(2)), r.getLong(3)))
        .toMap
      cw = cw.map { case (sub, code, old) =>
        val v = Array.tabulate(old.length)(d0 =>
          means.get((sub, code, d0)).map(_ / 1e6).getOrElse(old(d0).toDouble))
        (sub, code, v.map(_.toFloat))
      }
    }
    cw.toDF("sub", "code", "c_sub")
  }

  /** ADC search against an explicit codeword frame — [[pqSearchOn]]'s
    * parameterized core.
    */
  private[queries] def pqSearchWith(emb: DataFrame, cw: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val lut = pqLutWith(emb, cw)
    val w = Window.partitionBy($"query_id").orderBy($"adc_micros".asc, $"cand_id")
    pqCodesWith(emb, cw)
      .join(broadcast(lut), Seq("sub", "code"))
      .filter($"vec_id" =!= $"query_id")
      .groupBy($"query_id", $"vec_id")
      .agg(sum($"d2_micros").as("adc_micros"))
      .select($"query_id", $"vec_id".as("cand_id"), $"adc_micros")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
  }

  /** One unrolled per-subspace Lloyd round in oracle SQL, keyed by
    * (sub, cell) — [[oTrainRound]]'s PQ twin over [[pqSubDim]]-length
    * slices (`pdims` = 1..pqSubDim).
    */
  private def oPqTrainRound(prev: String, cur: String): String =
    s"""pd_$cur AS (
       |  SELECT sv.vec_id, sv.sub, sv.v_sub, p.cell,
       |         CAST(FLOOR(1e6 * (${oDotSub("sv.v_sub", "sv.v_sub")} + ${oDotSub("p.c_emb", "p.c_emb")}
       |           - 2.0 * ${oDotSub("sv.v_sub", "p.c_emb")})) AS BIGINT) AS d2_micros
       |  FROM sv JOIN $prev p ON sv.sub = p.sub),
       |pa_$cur AS (
       |  SELECT vec_id, sub, cell, v_sub FROM (
       |    SELECT vec_id, sub, cell, v_sub,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2_micros ASC, cell ASC) AS rk
       |    FROM pd_$cur) WHERE rk = 1),
       |pm_$cur AS (
       |  SELECT a.sub, a.cell, pdims.d, COUNT(*) AS n,
       |         CAST(SUM(CAST(FLOOR(1e6 * a.v_sub[pdims.d]) AS BIGINT)) AS BIGINT) AS s
       |  FROM pa_$cur a CROSS JOIN pdims
       |  GROUP BY 1, 2, 3),
       |pl_$cur AS (
       |  SELECT sub, cell, list(CAST(FLOOR(1.0 * s / n) / 1e6 AS REAL) ORDER BY d) AS c_emb
       |  FROM pm_$cur GROUP BY 1, 2),
       |$cur AS (
       |  SELECT p.sub, p.cell, COALESCE(nw.c_emb, p.c_emb) AS c_emb
       |  FROM $prev p LEFT JOIN pl_$cur nw ON nw.sub = p.sub AND nw.cell = p.cell)""".stripMargin

  val pqRecallTrained = Q(
    "v_pq_recall_trained",
    (s, d) => {
      import s.implicits._
      val emb = vecs(s, d)
      val cw = trainedPqCodewords(emb)
      val q = emb
        .filter($"vec_id" >= pqK && $"vec_id" < pqK + nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val w = Window.partitionBy($"query_id").orderBy($"d2x_micros".asc, $"cand_id")
      val truth = emb
        .select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
        .join(broadcast(q), $"cand_id" =!= $"query_id")
        .withColumn(
          "d2x_micros",
          micros(dotd("q_emb", "q_emb") + dotd("c_emb", "c_emb")
            - lit(2.0) * dotd("q_emb", "c_emb")))
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= topK)
        .select($"query_id", $"cand_id", lit(1L).as("hit"))
      pqSearchWith(emb, cw)
        .join(broadcast(truth), Seq("query_id", "cand_id"), "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("n_returned"), count($"hit").as("n_hit"))
        .withColumn("recall_pct", floor(lit(100.0) * $"n_hit" / lit(topK)).cast("long"))
    },
    Some {
      val rounds = (1 to trainSteps)
        .map(i => oPqTrainRound(if (i == 1) "pc_0" else s"pc_${i - 1}", s"pc_$i"))
        .mkString(",\n      ")
      val cT = s"pc_$trainSteps"
      s"""
      WITH subs AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS sub),
      pdims AS (SELECT unnest(generate_series(1, $pqSubDim)) AS d),
      sv AS (
        SELECT v.vec_id, s.sub,
               list_slice(v.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS v_sub
        FROM embeddings v CROSS JOIN subs s),
      pc_0 AS (
        SELECT s.sub, c.vec_id AS cell,
               list_slice(c.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS c_emb
        FROM embeddings c CROSS JOIN subs s WHERE c.vec_id < $pqK),
      $rounds,
      cwt AS (SELECT sub, cell AS code, c_emb AS c_sub FROM $cT),
      t_scored2 AS (
        SELECT sv.vec_id, sv.sub, cwt.code,
               CAST(FLOOR(1e6 * (${oDotSub("sv.v_sub", "sv.v_sub")} + ${oDotSub("cwt.c_sub", "cwt.c_sub")}
                 - 2.0 * ${oDotSub("sv.v_sub", "cwt.c_sub")})) AS BIGINT) AS d2_micros
        FROM sv JOIN cwt ON sv.sub = cwt.sub),
      codes AS (
        SELECT vec_id, CAST(sub AS BIGINT) AS sub, code FROM (
          SELECT vec_id, sub, code,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                    ORDER BY d2_micros ASC, code ASC) AS rk
          FROM t_scored2) WHERE rk = 1),
      q AS (
        SELECT v.vec_id AS query_id, CAST(s.sub AS BIGINT) AS sub,
               list_slice(v.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS q_sub
        FROM embeddings v CROSS JOIN subs s
        WHERE v.vec_id >= $pqK AND v.vec_id < ${pqK + nQueries}),
      lut AS (
        SELECT q.query_id, q.sub, cwt.code,
               CAST(FLOOR(1e6 * (${oDotSub("q.q_sub", "q.q_sub")} + ${oDotSub("cwt.c_sub", "cwt.c_sub")}
                 - 2.0 * ${oDotSub("q.q_sub", "cwt.c_sub")})) AS BIGINT) AS d2_micros
        FROM q JOIN cwt ON q.sub = CAST(cwt.sub AS BIGINT)),
      adc AS (
        SELECT l.query_id, c.vec_id AS cand_id, CAST(SUM(l.d2_micros) AS BIGINT) AS adc_micros
        FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code AND c.vec_id <> l.query_id
        GROUP BY 1, 2),
      pq AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micros ASC, cand_id ASC) AS rnk
          FROM adc) WHERE rnk <= $topK),
      qf AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
             WHERE vec_id >= $pqK AND vec_id < ${pqK + nQueries}),
      t_scored AS (
        SELECT qf.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDot("qf.q_emb", "qf.q_emb")} + ${oDot("c.embedding", "c.embedding")}
                 - 2.0 * ${oDot("qf.q_emb", "c.embedding")})) AS BIGINT) AS d2x_micros
        FROM qf JOIN embeddings c ON c.vec_id <> qf.query_id),
      truth AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2x_micros ASC, cand_id) AS rnk
          FROM t_scored) WHERE rnk <= $topK)
      SELECT p.query_id,
             COUNT(*) AS n_returned,
             COUNT(t.cand_id) AS n_hit,
             CAST(FLOOR(100.0 * COUNT(t.cand_id) / $topK) AS BIGINT) AS recall_pct
      FROM pq p LEFT JOIN truth t
        ON p.query_id = t.query_id AND p.cand_id = t.cand_id
      GROUP BY 1
    """.stripMargin.trim
    },
  )

  // ---------------------------------------------------------------------
  // IVF-PQ search — the composed index every billion-vector deployment
  // actually runs (FAISS's IVFxx,PQyy): the IVF half prunes the search to
  // nprobe inverted lists (candidate generation never touches most of the
  // corpus), the PQ half scores those candidates from 4-byte codes via
  // the broadcast ADC lookup table (the scan reads codes, not floats —
  // 64× less memory traffic). Strictly a composition of the two verified
  // halves: v_ivf_nprobe's probed-cell candidate join + v_pq_search's
  // LUT scoring; no new plan shape.
  //
  // 100 TB shape: assignment and codes are materialized index tables in a
  // real deployment (recomputed inline here to stay self-contained, like
  // v_ivf_search); the per-query work is |probed cells| code scans + an
  // O(candidates) partial-agg — the only corpus-wide passes are the
  // index builds themselves.
  // ---------------------------------------------------------------------

  /** The composed core — exposed for the differential spec. */
  private[queries] def ivfPqSearchOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = emb
      .filter($"vec_id" < nCells)
      .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"d2c_micros".asc, $"cell".asc)
    val dists = emb
      .join(broadcast(cents))
      .withColumn(
        "d2c_micros",
        micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
          - lit(2.0) * dotd("embedding", "c_emb")))
      .withColumn("rk", row_number().over(wAssign))
    // NOT checkpointed — see ivfNprobeRecallWith (r21 A/B negative)
    val assigned = dists.filter($"rk" === 1).select($"vec_id".as("cand_id"), $"cell")
    val probes = dists
      .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries && $"rk" <= nProbe)
      .select($"vec_id".as("query_id"), $"cell".as("q_cell"))
    val cands = assigned
      .join(broadcast(probes), $"cell" === $"q_cell" && $"cand_id" =!= $"query_id")
      .select($"query_id", $"cand_id")
    val w = Window.partitionBy($"query_id").orderBy($"adc_micros".asc, $"cand_id")
    pqCodesOn(emb)
      .withColumnRenamed("vec_id", "cand_id")
      .join(cands, Seq("cand_id"))
      .join(broadcast(pqLut(emb)), Seq("query_id", "sub", "code"))
      .groupBy($"query_id", $"cand_id")
      .agg(sum($"d2_micros").as("adc_micros"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id", $"adc_micros", $"rnk")
  }

  /** The IVF-PQ search oracle's CTE chain (through `adc`) over any
    * corpus relation and query-panel predicate — shared by
    * `v_ivfpq_search` (the live corpus, standard panel),
    * `v_ivfpq_asof` (the pre-append split), and SearchOps'
    * `t_hybrid_from_index` (a single probe vector, fused with BM25).
    */
  /** `candPred` (over `a.cand_id`) mirrors the engine's `keepIds`
    * pre-filter on the stored codes: applied in the `cands` CTE, before
    * ADC scoring and the rank — the dense leg of a filtered retrieval.
    */
  private[queries] def oIvfPqCtesFrom(src: String, panelPred: String,
      candPred: String = "TRUE"): String = {
    // The single panelPred is applied to BOTH the probes CTE (whose id
    // space is keyed off nCells — the first nCells ids are centroids)
    // and the PQ query/LUT CTE (keyed off pqK — the first pqK ids are
    // codewords). Sharing one predicate is only sound while the two
    // reserved prefixes coincide; the engine derives probes and query
    // slices independently, so a divergence would silently split the
    // oracle's panel from the engine's.
    require(nCells == pqK,
      s"oIvfPqCtesFrom shares one panel predicate across the probes (nCells=$nCells) " +
        s"and PQ query/LUT (pqK=$pqK) CTEs - take two predicates if these ever diverge")
    s"""cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM $src
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2c_micros
        FROM $src v CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2c_micros ASC, cell ASC) AS rk
        FROM dists),
      assigned AS (SELECT vec_id AS cand_id, cell FROM ranked WHERE rk = 1),
      probes AS (SELECT vec_id AS query_id, cell AS q_cell FROM ranked
                 WHERE ($panelPred) AND rk <= $nProbe),
      cands AS (
        SELECT p.query_id, a.cand_id
        FROM probes p JOIN assigned a ON a.cell = p.q_cell AND a.cand_id <> p.query_id
        WHERE ($candPred)),
      ${oPqCodesCteFrom(src)},
      q AS (
        SELECT v.vec_id AS query_id, CAST(s.sub AS BIGINT) AS sub,
               list_slice(v.embedding, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS q_sub
        FROM $src v CROSS JOIN subs s
        WHERE ($panelPred)),
      lut AS (
        SELECT q.query_id, q.sub, cw.code,
               CAST(FLOOR(1e6 * (${oDotSub("q_sub", "q_sub")} + ${oDotSub("c_sub", "c_sub")}
                 - 2.0 * ${oDotSub("q_sub", "c_sub")})) AS BIGINT) AS d2_micros
        FROM q JOIN cw ON q.sub = cw.sub),
      adc AS (
        SELECT cd.query_id, cd.cand_id, CAST(SUM(l.d2_micros) AS BIGINT) AS adc_micros
        FROM (SELECT c.query_id, c.cand_id, k.sub, k.code
              FROM cands c JOIN codes k ON k.vec_id = c.cand_id) cd
        JOIN lut l ON l.query_id = cd.query_id AND l.sub = cd.sub AND l.code = cd.code
        GROUP BY 1, 2)""".stripMargin
  }

  /** The full search statement — CTE chain + per-query top-k — over the
    * standard query panel; `prelude` injects extra leading CTEs
    * (`v_ivfpq_asof`'s base-split relation).
    */
  private def oIvfPqSearchFrom(src: String, prelude: String = ""): String =
    s"""
      WITH $prelude${oIvfPqCtesFrom(src,
      s"vec_id >= $nCells AND vec_id < ${nCells + nQueries}")}
      SELECT query_id, cand_id, adc_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micros ASC, cand_id ASC) AS rnk
      FROM adc QUALIFY rnk <= $topK
    """.stripMargin.trim

  val ivfPqSearch = Q(
    "v_ivfpq_search",
    (s, d) => ivfPqSearchOn(vecs(s, d)),
    Some(oIvfPqSearchFrom("embeddings")),
  )

  /** Dense-retrieval time travel, hash-gated end to end — the vector
    * twin of `t_bm25_asof`: build the base split (epoch 0), fold the
    * delta in (epoch 1), then run the stored-index ADC search AS-OF
    * epoch 0 — the ranking must be exactly the pre-append one. The
    * oracle recomputes the full IVF-PQ pipeline over the base split
    * from scratch, so a reader that leaks any appended code (or probes
    * a cell the pinned epoch never filled) hash-mismatches. Centroid /
    * codebook / query-panel ids stay in the base so the trained tables
    * and the probes are split-invariant.
    */
  val ivfPqAsOf = Q(
    "v_ivfpq_asof",
    (s, d) => {
      import s.implicits._
      val keep = nCells + nQueries
      val all = vecs(s, d)
      // deployed-fleet stand-in: the two-epoch history builds once per
      // (JVM, corpus); the AS-OF READ is what the oracle gates
      val dir = graft.sources.Scratch.cached(s"ivfpq-asof:$d", "graft-ivfpq-asof") { p =>
        writeIvfPqIndex(all.filter($"vec_id" < keep || $"vec_id" % 10 =!= 3), p)
        appendIvfPqIndex(all.filter($"vec_id" >= keep && $"vec_id" % 10 === 3), p)
      }
      val queries = all
        .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
        .select($"vec_id".as("query_id"), $"embedding")
      ivfPqSearchFromIndex(s, dir, queries, asOf = Some(0L))
    },
    Some(oIvfPqSearchFrom("emb_base",
      s"emb_base AS (SELECT * FROM embeddings WHERE vec_id < ${nCells + nQueries} " +
        "OR vec_id % 10 <> 3),\n      ")),
  )

  // ---------------------------------------------------------------------
  // Residual IVF-PQ — the textbook IVFADC form (Jégou et al. 2011 §IV):
  // PQ quantizes the RESIDUAL v − centroid(cell(v)) instead of the raw
  // vector. Residuals concentrate near the origin regardless of which
  // cell a vector lives in, so the same 16-codeword budget spends its
  // resolution on local displacement, not on re-encoding the coarse
  // position the IVF assignment already captured — the reason every
  // production IVF-PQ index encodes residuals. Search mirrors it: the
  // query's residual is taken PER PROBED CELL (q − that cell's
  // centroid), giving a per-(query, cell) ADC lookup table.
  //
  // Deterministic codebook: residual sub-vectors of the 16 vectors after
  // the query panel (ids [nCells+nQueries, nCells+nQueries+pqK)) — the
  // centroid vectors themselves are useless here (their residuals are
  // identically zero), which is itself a property the spec pins.
  //
  // 100 TB shape: identical to v_ivfpq_search — the residual projection
  // is a per-row zip_with at INDEX-BUILD time (the scan side still reads
  // only codes), the LUT grows to |q|×nprobe×m×k = 640 rows (still a
  // broadcast literal), and candidate generation stays the probed-cell
  // equi-join.
  // ---------------------------------------------------------------------

  private val resCbLo = nCells + nQueries // first codebook-source id

  /** Element-wise float difference (IEEE single, bit-identical in the
    * DuckDB mirror where FLOAT - FLOAT is also single-precision).
    */
  private def residOf(a: String, b: String): Column =
    expr(s"zip_with($a, $b, (x, y) -> x - y)")

  /** The composed core — exposed for the differential spec. */
  private[queries] def ivfPqResidualSearchOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = emb
      .filter($"vec_id" < nCells)
      .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
    val wAssign = Window.partitionBy($"vec_id").orderBy($"d2c_micros".asc, $"cell".asc)
    val dists = emb
      .join(broadcast(cents))
      .withColumn(
        "d2c_micros",
        micros(dotd("embedding", "embedding") + dotd("c_emb", "c_emb")
          - lit(2.0) * dotd("embedding", "c_emb")))
      .withColumn("rk", row_number().over(wAssign))
    // NOT checkpointed — see ivfNprobeRecallWith (r21 A/B negative: the
    // codebook/encode/probe branches overlap as concurrent stages)
    val resid = dists
      .filter($"rk" === 1)
      .withColumn("r_emb", residOf("embedding", "c_emb"))
      .select($"vec_id", $"cell", $"r_emb")
    val cw = resid
      .filter($"vec_id" >= resCbLo && $"vec_id" < resCbLo + pqK)
      .select(
        $"vec_id".as("code"),
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"),
        $"r_emb".as("c_full"))
      .select($"code", $"sub",
        expr(s"slice(c_full, sub * $pqSubDim + 1, $pqSubDim)").as("c_sub"))
    val codes = resid
      .select($"vec_id", $"cell",
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"), $"r_emb".as("v_full"))
      .select($"vec_id", $"cell", $"sub",
        expr(s"slice(v_full, sub * $pqSubDim + 1, $pqSubDim)").as("v_sub"))
      .join(broadcast(cw), Seq("sub"))
      .withColumn(
        "d2_micros",
        micros(dotd("v_sub", "v_sub") + dotd("c_sub", "c_sub")
          - lit(2.0) * dotd("v_sub", "c_sub")))
      // packed-long argmin — see pqCodesOn. code ids here are the raw
      // source vec_ids in [resCbLo, resCbLo+pqK); subtract the base so
      // the pack factor stays pqK
      .withColumn("packed",
        $"d2_micros" * lit(pqK.toLong) + ($"code" - lit(resCbLo.toLong)))
      .groupBy($"vec_id", $"cell", $"sub")
      .agg(min($"packed").as("p"))
      .withColumn("code0", pmod($"p", lit(pqK.toLong)))
      .select($"vec_id", $"cell", $"sub".cast("long").as("sub"),
        ($"code0" + resCbLo).as("code"))
    val probes = dists
      .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries && $"rk" <= nProbe)
      .select($"vec_id".as("query_id"), $"cell", $"embedding".as("q_emb"),
        $"c_emb".as("p_emb"))
    val lut = probes
      .withColumn("qr", residOf("q_emb", "p_emb"))
      .select($"query_id", $"cell",
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"), $"qr".as("q_full"))
      .select($"query_id", $"cell", $"sub",
        expr(s"slice(q_full, sub * $pqSubDim + 1, $pqSubDim)").as("q_sub"))
      .join(broadcast(cw), Seq("sub"))
      .withColumn(
        "d2_micros",
        micros(dotd("q_sub", "q_sub") + dotd("c_sub", "c_sub")
          - lit(2.0) * dotd("q_sub", "c_sub")))
      .select($"query_id", $"cell", $"sub".cast("long").as("sub"), $"code", $"d2_micros")
    val w = Window.partitionBy($"query_id").orderBy($"adc_micros".asc, $"cand_id")
    codes
      .withColumnRenamed("vec_id", "cand_id")
      .join(broadcast(probes.select($"query_id", $"cell")), Seq("cell"))
      .filter($"cand_id" =!= $"query_id")
      .join(broadcast(lut), Seq("query_id", "cell", "sub", "code"))
      .groupBy($"query_id", $"cand_id")
      .agg(sum($"d2_micros").as("adc_micros"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id", $"adc_micros", $"rnk")
  }

  val ivfPqResidualSearch = Q(
    "v_ivfpq_residual",
    (s, d) => ivfPqResidualSearchOn(vecs(s, d)),
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, v.embedding, c.cell, c.c_emb,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2c_micros
        FROM embeddings v CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, embedding, cell, c_emb,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2c_micros ASC, cell ASC) AS rk
        FROM dists),
      resid AS (
        SELECT vec_id, cell,
               list_transform(generate_series(1, $dim),
                 i -> embedding[i] - c_emb[i]) AS r_emb
        FROM ranked WHERE rk = 1),
      subs AS (SELECT unnest(generate_series(0, ${pqM - 1})) AS sub),
      cw AS (
        SELECT r.vec_id AS code, s.sub,
               list_slice(r.r_emb, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS c_sub
        FROM resid r CROSS JOIN subs s
        WHERE r.vec_id >= $resCbLo AND r.vec_id < ${resCbLo + pqK}),
      vsub AS (
        SELECT r.vec_id, r.cell, s.sub,
               list_slice(r.r_emb, s.sub * $pqSubDim + 1, s.sub * $pqSubDim + $pqSubDim) AS v_sub
        FROM resid r CROSS JOIN subs s),
      rscored AS (
        SELECT vsub.vec_id, vsub.cell, vsub.sub, cw.code,
               CAST(FLOOR(1e6 * (${oDotSub("v_sub", "v_sub")} + ${oDotSub("c_sub", "c_sub")}
                 - 2.0 * ${oDotSub("v_sub", "c_sub")})) AS BIGINT) AS d2_micros
        FROM vsub JOIN cw ON vsub.sub = cw.sub),
      codes AS (
        SELECT vec_id, cell, CAST(sub AS BIGINT) AS sub, code FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2_micros ASC, code ASC) AS rr
          FROM rscored) WHERE rr = 1),
      probes AS (
        SELECT vec_id AS query_id, cell,
               list_transform(generate_series(1, $dim),
                 i -> embedding[i] - c_emb[i]) AS qr
        FROM ranked
        WHERE vec_id >= $nCells AND vec_id < ${nCells + nQueries} AND rk <= $nProbe),
      lut AS (
        SELECT p.query_id, p.cell, CAST(p.sub AS BIGINT) AS sub, cw.code,
               CAST(FLOOR(1e6 * (${oDotSub("q_sub", "q_sub")} + ${oDotSub("c_sub", "c_sub")}
                 - 2.0 * ${oDotSub("q_sub", "c_sub")})) AS BIGINT) AS d2_micros
        FROM (SELECT p0.query_id, p0.cell, s0.sub,
                     list_slice(p0.qr, s0.sub * $pqSubDim + 1, s0.sub * $pqSubDim + $pqSubDim) AS q_sub
              FROM probes p0 CROSS JOIN subs s0) p
        JOIN cw ON p.sub = cw.sub),
      adc AS (
        SELECT l.query_id, k.vec_id AS cand_id, CAST(SUM(l.d2_micros) AS BIGINT) AS adc_micros
        FROM codes k
        JOIN lut l ON l.cell = k.cell AND l.sub = k.sub AND l.code = k.code
                   AND k.vec_id <> l.query_id
        GROUP BY 1, 2)
      SELECT query_id, cand_id, adc_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micros ASC, cand_id ASC) AS rnk
      FROM adc QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Stored IVF-PQ index — the artifact path the inline catalog rows
  // deliberately sidestep ("recomputed inline to stay self-contained"):
  // a real deployment builds the index ONCE and every search reads only
  // stored tables. writeIvfPqIndex materializes the four artifacts —
  // centroids (16 rows), codewords (64 rows), and the code table
  // PARTITIONED BY CELL, which is the physical inverted-list layout: a
  // probe's `cell IN (...)` filter becomes parquet partition pruning, so
  // a search touches only its probed cells' directories and the
  // 100 TB-corpus code table is never scanned whole. Each cell is
  // repartitioned to one writer task (the writeShards no-small-files
  // pattern).
  // ---------------------------------------------------------------------

  /** Build + persist the IVF-PQ index artifacts under `path`, with the
    * [[graft.sources.IndexManifest]] commit protocol: centroids and
    * codewords are IMMUTABLE plain directories (written once here,
    * never touched by append — re-deriving them would re-key every
    * cell), the code table is append-only under epoch directories, and
    * the manifest flip is the commit point.
    */
  /** Centroid GENERATION directory, keyed by the committed window
    * FLOOR: any operation that changes the centroid set (a cell-split
    * rebalance) must also rebase the window (compaction semantics), so
    * `gen == baseEpoch` always resolves the centroids every readable
    * epoch's codes were assigned with — as-of reads stay consistent
    * across a rebalance for free, and a crash mid-rebalance leaves only
    * an orphan gen directory the manifest never points at.
    */
  private def centroidsDir(path: String, floor: Long): String =
    s"$path/centroids/gen=$floor"

  def writeIvfPqIndex(emb: DataFrame, path: String): Unit = {
    val s = emb.sparkSession
    import s.implicits._
    // public entry point: callers may not have gone through vecs()'s
    // session registration (the replica sweep caught exactly that)
    graft.functions.GraftFunctions.registerDotD(s)
    // independent epoch-0 components under one commit, overlapped
    // (guide §2.6 — four small writes whose cost is the job floor, the
    // empty tombstone epoch among them)
    StoredIndex.IvfPq.build(s, path)(
      "centroids" -> { () =>
        emb.filter($"vec_id" < nCells)
          .select($"vec_id".as("cell"), $"embedding".as("c_emb"))
          .coalesce(1)
          .write.mode("overwrite").parquet(centroidsDir(path, 0L))
      },
      "codewords" -> { () =>
        pqCodewords(emb)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$path/codewords")
      },
      "codes" -> (() =>
        StoredIndex.IvfPq.writeMain(
          pqCodesOn(emb).join(ivfCells(emb).select($"vec_id", $"cell"), Seq("vec_id")),
          path, 0L)))
  }

  /** Forget vectors from the stored IVF-PQ index — the ANN-tier member
    * of the forget family (BQ / postings / LSH / SCD2): a tombstone
    * epoch, epoch-precedence resolution (forget-then-re-add resolves to
    * the new code), physical removal on compaction. No stats give-back
    * is needed: centroids and codebooks are TRAINED parameters of the
    * quantizer, not corpus counts — a deleted vector leaves them
    * untouched exactly as a rebuild-with-frozen-codebooks would.
    * Caller contract as the siblings: ids are live index members.
    */
  def deleteFromIvfPqIndex(ids: DataFrame, path: String): Unit =
    StoredIndex.IvfPq.forget(ids, path)

  /** Fold new vectors into the stored IVF-PQ index — the vector-side
    * sibling of `TextOps.appendLshIndex`: arrivals are assigned and
    * encoded with the STORED centroid/codeword tables (never re-derived
    * — the index's convention is whatever it was built or trained with,
    * and re-deriving from the union corpus would silently re-key every
    * existing cell), then appended into the partitioned code table.
    * Append touches only the arrivals' cell directories; the
    * centroid/codeword artifacts are immutable. Equal by construction
    * to rebuilding on the union corpus while the first-pqK ids are
    * unchanged — PqSpec pins code-table equality and search parity.
    * Crash-atomic via [[graft.sources.IndexManifest]]: the arrivals'
    * codes stage into their own epoch directory, the manifest flips
    * last; a failed append is invisible and its retry overwrites the
    * orphan stage.
    * Replay hazard (IndexManifest writer contract): retry idempotence
    * covers appends that crashed BEFORE the manifest flip; re-running
    * an append that already COMMITTED folds the same delta in twice.
    * The caller's ingest ledger must not re-feed committed batches.
    */
  def appendIvfPqIndex(newVecs: DataFrame, path: String): Unit =
    StoredIndex.IvfPq.nextEpoch(path)(stageIvfPqAppend(newVecs, path, _))

  /** Fold the accreted code epochs into one cell-partitioned directory
    * of RESOLVED codes (forgets become physical) and raise the window
    * floor; the centroid generation moves to the new floor, codewords
    * are an immutable plain directory — untouched.
    */
  def compactIvfPqIndex(s: SparkSession, path: String): Unit =
    StoredIndex.IvfPq.compact(s, path, extra = (st, e) => Seq(
      // carry the centroid generation to the new floor (gen == baseEpoch
      // invariant); 16 rows, trivial copy
      "centroids" -> (() =>
        s.read.parquet(centroidsDir(path, st.baseEpoch))
          .coalesce(1).write.mode("overwrite").parquet(centroidsDir(path, e)))))

  /** Stage (but do NOT commit) epoch `e` of an IVF-PQ append — exposed
    * for the atomicity spec.
    */
  // ---------------------------------------------------------------------
  // Cell-split rebalance — ACTING on what v_index_balance only reports:
  // a skewed IVF index (hot cells from a drifted corpus or a mis-sized
  // codebook) makes every probe of a hot cell slow and pushes cells past
  // the semantic-dedup cap, where candidates silently drop. The
  // rebalance splits every over-cap cell in two along its widest
  // dimension (exact integer rule: floor-micros min/max per dim, widest
  // spread wins, tie to the lowest dim; a member goes low iff
  // 2*floor(1e6*v[dim]) <= m_lo + m_hi — no division, no floats, so the
  // DuckDB oracle reproduces the plan bit-for-bit) and refits both
  // halves' centroids by the k-means fixed-point discipline
  // (order-independent integer micros sums).
  //
  // The rewrite is COMPACTION-CLASS: codes are fully resolved and
  // re-laid-out (only split-cell members actually change cell), the new
  // centroid generation stages under gen=<new floor>, and the commit
  // rebases the window — so as-of readers can never pair old codes with
  // new centroids, and a crash before the flip leaves only orphan
  // stages. PQ codebooks are untouched (codes encode raw vectors, not
  // cells).
  //
  // 100 TB shape: one resolved-codes pass (the compactor's cost), one
  // raw-vector join against ONLY the over-cap cells' members, per-dim
  // stats as a 2x|split-cells|x64-row agg, and an O(cells x dim) driver
  // hand-off for the refit centroids (the kmeansTrain sanction).
  // ---------------------------------------------------------------------

  /** The split plan over (cell, vec_id, embedding) members of over-cap
    * cells — the exact-integer core, exposed for the oracle row and the
    * spec. Output: (cell, n_before, split_dim, mid2_micros, n_lo, n_hi).
    */
  private[queries] def splitPlanOn(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val byDim = members
      .select($"cell", posexplode($"embedding").as(Seq("dim", "v")))
      .withColumn("vm", micros($"v".cast("double")))
      .groupBy($"cell", $"dim")
      .agg(min($"vm").as("m_lo"), max($"vm").as("m_hi"), count(lit(1)).as("n_before"))
    val wDim = Window.partitionBy($"cell")
      .orderBy(($"m_hi" - $"m_lo").desc, $"dim".asc)
    val pick = byDim.withColumn("rk", row_number().over(wDim)).filter($"rk" === 1)
      .select($"cell", $"dim".cast("long").as("split_dim"),
        ($"m_lo" + $"m_hi").as("mid2_micros"), $"n_before")
    members
      .join(broadcast(pick), Seq("cell"))
      .withColumn("vm", micros(
        element_at($"embedding", ($"split_dim" + 1L).cast("int")).cast("double")))
      .groupBy($"cell", $"n_before", $"split_dim", $"mid2_micros")
      .agg(sum(when($"vm" * 2L <= $"mid2_micros", 1L).otherwise(0L)).as("n_lo"))
      .withColumn("n_hi", $"n_before" - $"n_lo")
      .select($"cell", $"n_before", $"split_dim", $"mid2_micros", $"n_lo", $"n_hi")
  }

  /** Rebalance the stored IVF-PQ index at `path`: split every cell
    * holding more than 110% of the mean (the balance radar's skew
    * grain) and commit the new layout + centroid generation as a
    * window-rebasing epoch. `emb` supplies raw vectors for the index's
    * live members (the append/delete caller contract). Returns the
    * split report (the plan actually applied); cells whose widest
    * dimension is constant (n_hi = 0) are reported but left unsplit.
    */
  def splitIvfPqCells(emb: DataFrame, path: String): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val st = StoredIndex.IvfPq.state(path)
    val codes = StoredIndex.IvfPq.resolved(s, path).cache()
    // the cell partition column reads back as INT when values fit —
    // normalize to the centroid table's LONG for every derived frame
    val cells = codes.filter($"sub" === 0L)
      .select($"vec_id", $"cell".cast("long").as("cell"))
    val sizes = cells.groupBy($"cell").agg(count(lit(1)).as("n")).cache()
    val (total, nc) = {
      val r = sizes.agg(sum($"n"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val cap = (total * 11L) / (nc * 10L)
    val members = cells
      .join(sizes.filter($"n" > cap).select($"cell"), Seq("cell"))
      .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
      .select($"cell", $"vec_id", $"embedding")
    val plan = splitPlanOn(members).cache()
    // the three caches live only for this call — v_index_split rebuilds
    // and splits an index per catalog invocation, so leaking them would
    // accrete executor storage for the JVM lifetime (Verify/Bench/sweep
    // runs); the returned plan is materialized off the cache first
    try {
    // O(|split cells|) driver hand-off: the split rule + fresh cell ids
    val maxCell = s.read.parquet(centroidsDir(path, st.baseEpoch))
      .agg(max($"cell")).head().getLong(0)
    val splits = plan.filter($"n_hi" > 0L).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
      .zipWithIndex
      .map { case ((cell, mid2), i) => (cell, mid2, maxCell + 1L + i) }
    // compaction-class: staged under the next epoch, committed with the
    // declaration's guarded floor raise
    if (splits.nonEmpty) StoredIndex.IvfPq.rebase(path, st) { e =>
      val splitDf = plan.filter($"n_hi" > 0L)
        .join(splits.toSeq.toDF("cell", "mid2_chk", "hi_cell"), Seq("cell"))
        .select($"cell", $"split_dim", $"mid2_micros", $"hi_cell")
      // side assignment for split-cell members; everyone else keeps cell
      val sides = members
        .join(broadcast(splitDf), Seq("cell"))
        .withColumn("vm", micros(
          element_at($"embedding", ($"split_dim" + 1L).cast("int")).cast("double")))
        .withColumn("new_cell",
          when($"vm" * 2L <= $"mid2_micros", $"cell").otherwise($"hi_cell"))
      // refit both halves' centroids: order-independent integer sums
      // (the kmeansTrain discipline), O(cells x dim) collected
      val refit = sides
        .select($"new_cell", posexplode($"embedding").as(Seq("dim", "v")))
        .withColumn("vm", micros($"v".cast("double")))
        .groupBy($"new_cell", $"dim")
        .agg(sum($"vm").as("sm"), count(lit(1)).as("cnt"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          val arr = rows.sortBy(_.getInt(1))
            .map(r => (r.getLong(2).toDouble / r.getLong(3) / 1e6).toFloat).toArray
          (cell, arr)
        }
      val keep = s.read.parquet(centroidsDir(path, st.baseEpoch))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .filterNot { case (c, _) => refit.contains(c) }
      (keep ++ refit).toSeq.sortBy(_._1).toDF("cell", "c_emb")
        .coalesce(1).write.mode("overwrite").parquet(centroidsDir(path, e))
      // resolved codes with the reassignment applied — compaction-class
      val moved = sides.filter($"new_cell" =!= $"cell")
        .select($"vec_id", $"new_cell")
      StoredIndex.IvfPq.writeMain(
        codes
          .join(moved, Seq("vec_id"), "left")
          .withColumn("cell", coalesce($"new_cell", $"cell"))
          .drop("new_cell"),
        path, e)
      StoredIndex.IvfPq.emptyTombstones(s, path, e).foreach(_._2())
    }
    plan.localCheckpoint(true)
    } finally {
      codes.unpersist()
      sizes.unpersist()
      plan.unpersist()
    }
  }

  /** The rebalance plan, oracle-gated: build the index, run the split,
    * and hash-match the applied report against DuckDB's from-scratch
    * recomputation (assignment -> 110%-of-mean cap -> widest-dimension
    * integer split rule).
    */
  /** The pristine stored IVF-PQ index over the full corpus — shared
    * deployed-artifact stand-in for the read-only refine rows
    * (Scratch.cached convention).
    */
  private def pristineIvfPq(s: SparkSession, d: String): String =
    graft.sources.Scratch.cached(s"ivfpq-pristine:$d", "graft-ivfpq-refine") { p =>
      writeIvfPqIndex(vecs(s, d), p)
    }

  /** The IVF-PQ refine funnel, hash-gated end to end: stored-index ADC
    * top-C per query, exact float rerank to top-k — the oracle
    * recomputes the whole two-tier pipeline, so a wrong ADC cut, a
    * leaked quantized rank, or a refine that re-scores the wrong short
    * list all hash-mismatch.
    */
  val ivfPqRefined = Q(
    "v_ivfpq_refined",
    (s, d) => {
      import s.implicits._
      searchIvfPqRefined(s, pristineIvfPq(s, d),
        vecs(s, d)
          .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
          .select($"vec_id".as("query_id"), $"embedding"),
        vecs(s, d))
    },
    Some(s"""
      WITH ${oIvfPqCtesFrom("embeddings",
        s"vec_id >= $nCells AND vec_id < ${nCells + nQueries}")},
      adck AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micros ASC, cand_id ASC) AS rnk
          FROM adc) WHERE rnk <= $refineC),
      rf AS (
        SELECT a.query_id, a.cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.embedding", "c.embedding")} /
                 (sqrt(${oDot("q.embedding", "q.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM adck a JOIN embeddings q ON q.vec_id = a.query_id
                   JOIN embeddings c ON c.vec_id = a.cand_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id ASC) AS rnk
      FROM rf QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  /** End-to-end recall of the refine funnel vs exact ground truth on
    * the same panel — with nProbe=$nProbe of $nCells cells probed, the
    * ceiling is the probes' coverage; the refine recovers everything
    * ADC's quantization error dropped WITHIN the probed cells (the
    * number that tells an operator whether to raise nProbe or the
    * refine width).
    */
  val ivfPqRefinedRecall = Q(
    "v_ivfpq_refined_recall",
    (s, d) => {
      import s.implicits._
      val truth = exactCosTopKPanel(s, d,
        $"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
      recallAudit(truth,
        searchIvfPqRefined(s, pristineIvfPq(s, d),
          vecs(s, d)
            .filter($"vec_id" >= nCells && $"vec_id" < nCells + nQueries)
            .select($"vec_id".as("query_id"), $"embedding"),
          vecs(s, d)))
    },
    Some(s"""
      WITH ${oIvfPqCtesFrom("embeddings",
        s"vec_id >= $nCells AND vec_id < ${nCells + nQueries}")},
      adck AS (
        SELECT query_id, cand_id FROM (
          SELECT query_id, cand_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_micros ASC, cand_id ASC) AS rnk
          FROM adc) WHERE rnk <= $refineC),
      rf AS (
        SELECT a.query_id, a.cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.embedding", "c.embedding")} /
                 (sqrt(${oDot("q.embedding", "q.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM adck a JOIN embeddings q ON q.vec_id = a.query_id
                   JOIN embeddings c ON c.vec_id = a.cand_id),
      rfk AS (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id ASC) AS rnk
        FROM rf QUALIFY rnk <= $topK),
      ${oracleExactCtesFor(s"vec_id >= $nCells AND vec_id < ${nCells + nQueries}")}
      ${oracleRecallTail("rfk")}
    """.stripMargin.trim),
  )

  val indexSplit = Q(
    "v_index_split",
    (s, d) => {
      import s.implicits._
      val dir = graft.sources.Scratch.dir("graft-ivfpq-split")
      writeIvfPqIndex(vecs(s, d), dir)
      splitIvfPqCells(vecs(s, d), dir)
    },
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      ranked AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
        FROM dists),
      assigned AS (SELECT vec_id, cell FROM ranked WHERE rk = 1),
      sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM assigned GROUP BY 1),
      cap AS (SELECT (CAST(SUM(n) AS BIGINT) * 11) // (CAST(COUNT(*) AS BIGINT) * 10) AS cap
              FROM sizes),
      mem AS (
        SELECT a.cell, a.vec_id, e.embedding
        FROM assigned a
        JOIN sizes sz ON a.cell = sz.cell
        JOIN embeddings e ON a.vec_id = e.vec_id, cap
        WHERE sz.n > cap.cap),
      bydim AS (
        SELECT m.cell, i - 1 AS dim,
               MIN(CAST(FLOOR(1e6 * m.embedding[i]) AS BIGINT)) AS m_lo,
               MAX(CAST(FLOOR(1e6 * m.embedding[i]) AS BIGINT)) AS m_hi,
               CAST(COUNT(*) AS BIGINT) AS n_before
        FROM mem m CROSS JOIN generate_series(1, 64) t(i) GROUP BY 1, 2),
      pick AS (
        SELECT cell, CAST(dim AS BIGINT) AS split_dim,
               m_lo + m_hi AS mid2_micros, n_before
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                ORDER BY (m_hi - m_lo) DESC, dim ASC) AS rk FROM bydim)
        WHERE rk = 1),
      cnt AS (
        SELECT m.cell,
               CAST(SUM(CASE WHEN 2 * CAST(FLOOR(1e6 * m.embedding[p.split_dim + 1]) AS BIGINT)
                             <= p.mid2_micros THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
        FROM mem m JOIN pick p ON m.cell = p.cell GROUP BY 1)
      SELECT p.cell, p.n_before, p.split_dim, p.mid2_micros,
             c.n_lo, p.n_before - c.n_lo AS n_hi
      FROM pick p JOIN cnt c ON p.cell = c.cell
    """.stripMargin.trim),
  )

  private[graft] def stageIvfPqAppend(newVecs: DataFrame, path: String, e: Long): Unit = {
    val s = newVecs.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerDotD(s)
    val floor = StoredIndex.IvfPq.state(path).baseEpoch
    val cents = s.read.parquet(centroidsDir(path, floor)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val cw = s.read.parquet(s"$path/codewords")
    StoredIndex.IvfPq.writeMain(
      pqCodesWith(newVecs, cw)
        .join(ivfCellsWith(newVecs, cents).select($"vec_id", $"cell"), Seq("vec_id")),
      path, e)
  }

  /** ADC search against the STORED index: probes and the lookup table
    * are computed from the live query vectors against the stored
    * centroid/codeword tables (tiny, broadcast); candidates come from
    * the stored code table with the probed cells pushed down as a
    * partition filter (the probed-cell set is an O(|q|·nprobe) driver
    * hand-off, same sanctioned class as the shard packer's offsets).
    * Identical ranking contract to [[ivfPqSearchOn]] — the parity spec
    * pins it.
    *
    * `asOf` pins the code table to a past committed epoch
    * ([[graft.sources.IndexManifest.stateAsOf]]) — dense-retrieval time
    * travel. Centroids and codewords are IMMUTABLE plain directories
    * (append never touches them), so the pinned snapshot is consistent
    * by construction: past codes were encoded with exactly the tables
    * read today.
    */
  def ivfPqSearchFromIndex(s: SparkSession, path: String, queries: DataFrame,
      asOf: Option[Long] = None, k: Long = topK,
      excludeSelf: Boolean = true, keepIds: Option[DataFrame] = None,
      keepPairs: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.registerDotD(s)
    // the window floor is invariant across every readable as-of epoch,
    // so one generation serves both head and pinned reads
    val floor = StoredIndex.IvfPq.state(path).baseEpoch
    val cents = s.read.parquet(centroidsDir(path, floor))
    val cw = s.read.parquet(s"$path/codewords")
    val wProbe = Window.partitionBy($"query_id").orderBy($"d2c_micros".asc, $"cell".asc)
    val probes = queries
      .select($"query_id", $"embedding".as("q_emb"))
      .join(broadcast(cents))
      .withColumn(
        "d2c_micros",
        micros(dotd("q_emb", "q_emb") + dotd("c_emb", "c_emb")
          - lit(2.0) * dotd("q_emb", "c_emb")))
      .withColumn("rk", row_number().over(wProbe))
      .filter($"rk" <= nProbe)
      .select($"query_id", $"cell", $"q_emb")
    val lut = probes
      .select($"query_id",
        explode(sequence(lit(0), lit(pqM - 1))).as("sub"), $"q_emb".as("q_full"))
      .distinct() // a query probing 2 cells needs each sub-slice once
      .select($"query_id", $"sub",
        expr(s"slice(q_full, sub * $pqSubDim + 1, $pqSubDim)").as("q_sub"))
      .join(broadcast(cw), Seq("sub"))
      .withColumn(
        "d2_micros",
        micros(dotd("q_sub", "q_sub") + dotd("c_sub", "c_sub")
          - lit(2.0) * dotd("q_sub", "c_sub")))
      .select($"query_id", $"sub".cast("long").as("sub"), $"code", $"d2_micros")
    // O(|q|·nprobe) driver hand-off -> a LITERAL partition filter the
    // parquet source prunes directories with
    val probedCells = probes.select($"cell").distinct().collect().map(_.getLong(0))
    // optional pre-filter (the searchBqIndexWhere strategy), landing on
    // the cell-pruned codes BEFORE ADC scoring: the top-k is then top
    // of the filtered PROBED cells — the filter composes with, not
    // bypasses, this family's nProbe recall contract (an eligible id
    // in an unprobed cell stays unreachable, exactly as unfiltered)
    val pruned = StoredIndex.IvfPq.resolved(s, path, asOf)
      .filter($"cell".isin(probedCells: _*))
    val cand = keepIds.fold(pruned)(keep =>
      pruned.join(keep.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val w = Window.partitionBy($"query_id").orderBy($"adc_micros".asc, $"cand_id")
    val fanned = cand
      .withColumnRenamed("vec_id", "cand_id")
      .join(broadcast(probes.select($"query_id", $"cell")), Seq("cell"))
      // corpus-panel queries share the index id space and must not
      // match themselves; a SERVING request's ids are their own space
      // (excludeSelf = false), so a numeric collision doesn't silently
      // drop a legitimate candidate — the searchBqIndex convention
      .filter(if (excludeSelf) $"cand_id" =!= $"query_id" else lit(true))
    // per-request eligibility (the bqScreenAgainst keepPairs contract):
    // the semi-join lands BEFORE the LUT fan-out and the rank, so the
    // per-query top-k pool is the top of that query's OWN filtered
    // probed cells, and no ADC term is ever summed for an ineligible
    // (query, id) pair
    keepPairs.fold(fanned)(p =>
        fanned.join(p.select($"query_id", $"vec_id".as("cand_id")),
          Seq("query_id", "cand_id"), "left_semi"))
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .groupBy($"query_id", $"cand_id")
      .agg(sum($"d2_micros").as("adc_micros"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
      .select($"query_id", $"cand_id", $"adc_micros", $"rnk")
  }

  /** ADC short-list REFINEMENT — the standard IVF-PQ serving funnel
    * (the FAISS `refine` stage): ADC ranks with quantization error, so
    * the stored-index search keeps its top-`c` per query and the exact
    * float rerank re-scores that short list to top-`k` against the
    * `corpus` float store. Cell pruning bounds the ADC scan, `c`
    * bounds the float fetches — the refine cost is O(queries × c)
    * regardless of corpus size. Same as-of pin as the unrefined
    * search.
    */
  def searchIvfPqRefined(s: SparkSession, path: String, queries: DataFrame,
      corpus: DataFrame, k: Long = topK, c: Long = refineC,
      asOf: Option[Long] = None, excludeSelf: Boolean = true,
      keepIds: Option[DataFrame] = None,
      keepPairs: Option[DataFrame] = None): DataFrame = {
    val cands = ivfPqSearchFromIndex(
      s, path, queries, asOf, c, excludeSelf, keepIds, keepPairs)
      .select(col("query_id"), col("cand_id"))
    exactRerankAgainst(
      queries.select(col("query_id"), col("embedding").as("q_emb")),
      corpus, cands, k)
  }

  // ---------------------------------------------------------------------
  // Cluster topic labeling — the corpus-exploration surface (data-map
  // style): for each IVF cell, the terms most over-represented among its
  // documents' vocabularies, scored by document-frequency lift
  // `(df_cell / n_c) / (df_all / n_total)` in exact integer ppm (log of
  // lift is PMI and log is monotone — the t_collocations convention, so
  // the ranking is float-free). Cross-pack composition: the embedding
  // clusters (v_ivf_assign's cells) label themselves with TextOps'
  // token pipeline.
  //
  // 100 TB shape: assignment = broadcast-centroid scan; per-(cell,
  // token) and per-token dfs are two keyed aggs (map-side combined);
  // the df join is token-keyed with NO broadcast hint (vocabulary
  // scale); cell sizes and the one-row total ride the sanctioned tiny
  // broadcasts; final rank partitions by cell over the support-filtered
  // candidate set, never the corpus. Long-arithmetic caveat (same class
  // as t_unigram_lm, documented there): the ppm product assumes
  // 1e6·df_cell·n_total fits a long — at extreme corpus scale widen to
  // decimal the way t_domain_mix does.
  // ---------------------------------------------------------------------

  private val topicSupport = 3
  private val topicsPerCell = 3

  val clusterTopics = Q(
    "t_cluster_topics",
    (s, d) => {
      import s.implicits._
      val docsDf = graft.sources.Tables.documents(s, d).select($"doc_id", $"text")
      val docCells = docsDf
        .join(ivfCells(vecs(s, d)).select($"vec_id", $"cell"), $"doc_id" === $"vec_id")
        .select($"doc_id", $"cell", $"text")
      val docToks = docCells
        .withColumn("tk", TextOps.toks)
        .select($"doc_id", $"cell", explode(array_distinct($"tk")).as("token"))
      val cellSizes = docCells.groupBy($"cell").agg(count(lit(1)).as("n_c"))
      val total = docCells.agg(count(lit(1)).as("n_total"))
      val dfCell = docToks.groupBy($"cell", $"token").agg(count(lit(1)).as("df_cell"))
      val dfAll = docToks.groupBy($"token").agg(count(lit(1)).as("df_all"))
      val w = Window.partitionBy($"cell").orderBy($"lift_ppm".desc, $"token".asc)
      dfCell
        .filter($"df_cell" >= topicSupport)
        .join(dfAll, Seq("token"))
        .join(broadcast(cellSizes), Seq("cell"))
        .crossJoin(broadcast(total))
        .withColumn("lift_ppm",
          expr("(1000000 * df_cell * n_total) div (n_c * df_all)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= topicsPerCell)
        .select($"cell", $"token", $"df_cell", $"n_c", $"lift_ppm", $"rk")
    },
    Some(s"""
      WITH cents AS (SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
                     WHERE vec_id < $nCells),
      dists AS (
        SELECT v.vec_id, c.cell,
               CAST(FLOOR(1e6 * (${oDot("v.embedding", "v.embedding")} + ${oDot("c.c_emb", "c.c_emb")}
                 - 2.0 * ${oDot("v.embedding", "c.c_emb")})) AS BIGINT) AS d2_micros
        FROM embeddings v CROSS JOIN cents c),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2_micros ASC, cell ASC) AS rk
          FROM dists) WHERE rk = 1),
      dc AS (
        SELECT d.doc_id, a.cell, ${TextOps.oracleToks} AS tk
        FROM documents d JOIN assigned a ON a.vec_id = d.doc_id),
      toks AS (SELECT doc_id, cell, unnest(list_distinct(tk)) AS token FROM dc),
      sizes AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_c FROM dc GROUP BY 1),
      total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dc),
      dfc AS (SELECT cell, token, CAST(COUNT(*) AS BIGINT) AS df_cell FROM toks GROUP BY 1, 2),
      dfa AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_all FROM toks GROUP BY 1),
      scored AS (
        SELECT dfc.cell, dfc.token, dfc.df_cell, s.n_c,
               CAST((1000000 * dfc.df_cell * t.n_total) // (s.n_c * dfa.df_all) AS BIGINT) AS lift_ppm
        FROM dfc
        JOIN dfa USING (token)
        JOIN sizes s USING (cell)
        CROSS JOIN total t
        WHERE dfc.df_cell >= $topicSupport)
      SELECT cell, token, df_cell, n_c, lift_ppm,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY lift_ppm DESC, token ASC) AS rk
      FROM scored QUALIFY rk <= $topicsPerCell
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Compressed-vector search — the 100 TB memory/IO ladder. A raw float
  // corpus is 4 B/dim/vec; binary quantization (1 bit/dim) cuts the
  // candidate scan 32x, scalar int8 quantization 4x, Matryoshka-style
  // dimension truncation by dim_kept/dim — and each lossy tier is only
  // usable if its recall against exact float cosine is MEASURED, so each
  // search op ships with a recall audit against [[exactCosTopK]] (the
  // FAISS SQ8/binary + MRL playbook: scan the compressed tier, re-rank
  // the short list against floats; here the audit IS that contract
  // check). Scale shape: quantization params come from one 128-partial-
  // aggregate scan (no explode, no corpus shuffle); packing/encoding is
  // a pure projection; search is the same broadcast-probe scan as
  // knnBrute. Every output is integer-exact (pack words, Hamming
  // distances, int8 dot products, overlap counts) — no float reaches
  // the hash compare.
  // ---------------------------------------------------------------------

  /** One 32-bit half of the sign-bit pack (bits are 1 where the
    * component is >= 0). Two BIGINT halves instead of one 64-bit word:
    * bit 63 would need the sign bit and 2^63 overflows both engines'
    * BIGINT literals — two halves keep every value comfortably positive
    * and the XOR/popcount math identical.
    */
  private def packHalf(from: Int): Column = expr(
    (0 until 32).map { j =>
      s"(CASE WHEN element_at(embedding, ${from + j}) >= 0 THEN ${1L << j}L ELSE 0L END)"
    }.mkString(" + "))

  private def oPackHalf(from: Int): String =
    (0 until 32).map { j =>
      s"(CASE WHEN embedding[${from + j}] >= 0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END)"
    }.mkString(" + ")

  /** (vec_id, w_lo, w_hi): the 64-dim corpus packed to 64 bits/vector. */
  private[queries] def bqPackedOn(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), packHalf(1).as("w_lo"), packHalf(33).as("w_hi"))

  private def bqPacked(s: SparkSession, d: String): DataFrame = bqPackedOn(vecs(s, d))

  /** Binary-quantized top-k over any packed (vec_id, w_lo, w_hi) frame:
    * Hamming distance, ties broken on cand_id. At scale this is THE
    * cheap first tier: the scan reads 8 bytes/vector and the distance
    * is two XOR+popcounts. `k` parameterizes the cut so the standalone
    * search row (top-10) and the cascade's screen (top-C1) share it.
    */
  private def bqScreen(packed: DataFrame, k: Long): DataFrame = {
    val s = packed.sparkSession
    import s.implicits._
    bqScreenAgainst(
      packed.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"w_lo".as("q_lo"), $"w_hi".as("q_hi")),
      packed, k, excludeSelf = true)
  }

  /** The screen against an EXPLICIT query frame (query_id, q_lo, q_hi)
    * — the serving form: request ids live in their own id space, so
    * self-exclusion is opt-in (the panel rows share the corpus space
    * and need it; a serving request must not silently drop a candidate
    * that happens to share its numeric id).
    *
    * `keepPairs` is PER-REQUEST eligibility — a (query_id, vec_id)
    * relation (distinct pairs, the caller's contract: a duplicated pair
    * would rank its candidate twice). The dominant production ANN
    * filter (tenant / language / license) is per-request, and a
    * corpus-global keep set can't express two same-batch queries with
    * different keep sets. The pairs frame changes the screen's JOIN
    * SHAPE for the better: instead of the sanctioned
    * broadcast-panel-cross (every candidate scored for every query),
    * candidates equi-join the pairs on cand_id and the pairs carry
    * query_id, so each candidate is scored ONLY for the queries allowed
    * to see it and the rank pool per query is the top of that query's
    * OWN filtered corpus — a post-filter of an unfiltered screen
    * under-fills arbitrarily (its pool can contain zero eligible rows),
    * the same argument as the corpus-global `keepIds` pre-filter, per
    * request. At deployment scale the pairs relation is whatever the
    * request's attribute predicate selected; the join is keyed on
    * vec_id (shuffle or broadcast by size), never corpus x batch.
    */
  private def bqScreenAgainst(q: DataFrame, packed: DataFrame, k: Long,
      excludeSelf: Boolean, keepPairs: Option[DataFrame] = None): DataFrame = {
    val s = packed.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"query_id").orderBy($"hamming".asc, $"cand_id".asc)
    val cond = if (excludeSelf) $"cand_id" =!= $"query_id" else lit(true)
    val cand = packed.select($"vec_id".as("cand_id"), $"w_lo", $"w_hi")
    val paired = keepPairs match {
      case None => cand.join(broadcast(q), cond)
      case Some(p) =>
        // distinct pairs enforced HERE, not just at the keepPairsFrom
        // front door: a direct caller handing a non-distinct relation
        // (a history table, an exploded attribute) would otherwise rank
        // a candidate twice, consuming screen slots and emitting
        // duplicate served rows — and the ivfPq path's left_semi is
        // naturally immune, so the two funnels would silently diverge.
        // Cheap relative to the screen: the dedup is over the pairs
        // relation (requests x eligible ids), never the corpus.
        cand.join(p.select($"query_id", $"vec_id".as("cand_id"))
            .dropDuplicates("query_id", "cand_id"), Seq("cand_id"))
          .join(broadcast(q), Seq("query_id"))
          .filter(cond)
    }
    paired
      .withColumn("hamming",
        (bit_count($"q_lo".bitwiseXOR($"w_lo")) +
          bit_count($"q_hi".bitwiseXOR($"w_hi"))).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
      .select($"query_id", $"cand_id", $"hamming", $"rnk")
  }

  private def bqTopK(s: SparkSession, d: String): DataFrame =
    bqScreen(bqPacked(s, d), topK)

  /** `pairPred` (over `bq.query_id` / `c.vec_id`) mirrors the engine's
    * per-request `keepPairs` eligibility: applied INSIDE the screen
    * join, before the rank, so the oracle's per-query pool is the top
    * of that query's own filtered corpus — exactly where the Spark
    * side applies the pairs frame.
    */
  private def oracleBqCtes(k: Long = topK, pairPred: String = "TRUE"): String =
    s"""packed AS (SELECT vec_id, ${oPackHalf(1)} AS w_lo, ${oPackHalf(33)} AS w_hi
       |           FROM embeddings),
       |bq AS (SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi FROM packed
       |       WHERE vec_id < $nQueries),
       |bscored AS (
       |  SELECT bq.query_id, c.vec_id AS cand_id,
       |         CAST(bit_count(xor(bq.q_lo, c.w_lo)) + bit_count(xor(bq.q_hi, c.w_hi))
       |           AS BIGINT) AS hamming
       |  FROM bq JOIN packed c ON c.vec_id <> bq.query_id AND ($pairPred)),
       |bqk AS (
       |  SELECT query_id, cand_id, hamming,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming ASC, cand_id) AS rnk
       |  FROM bscored QUALIFY rnk <= $k)""".stripMargin

  val bqSearch = Q(
    "v_bq_search",
    (s, d) => bqTopK(s, d),
    Some(s"""
      WITH ${oracleBqCtes()}
      SELECT query_id, cand_id, hamming, rnk FROM bqk
    """.stripMargin.trim),
    bench = true,
  )

  /** The exact-cosine CTE block shared by the recall audits (the same
    * integer-micros formula as the v_knn_brute oracle).
    */
  private def oracleExactCtes: String = oracleExactCtesFor(s"vec_id < $nQueries")

  /** The exact-cosine ground-truth CTEs over an arbitrary query-panel
    * predicate — the compressed tier audits use the standard panel
    * (vec_id < nQueries); the IVF-PQ refine audit uses that family's
    * centroid-disjoint panel.
    */
  private def oracleExactCtesFor(panelPred: String): String =
    s"""eq AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |       WHERE $panelPred),
       |escored AS (
       |  SELECT eq.query_id, c.vec_id AS cand_id,
       |         CAST(FLOOR(1e6 * (${oDot("eq.q_emb", "c.embedding")} /
       |           (sqrt(${oDot("eq.q_emb", "eq.q_emb")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
       |           AS BIGINT) AS sim_micros
       |  FROM eq JOIN embeddings c ON c.vec_id <> eq.query_id),
       |exact AS (
       |  SELECT query_id, cand_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
       |  FROM escored QUALIFY rnk <= $topK)""".stripMargin

  /** recall@k of a compressed tier against [[exactCosTopK]]:
    * (query_id, n_exact, n_overlap, recall_ppm).
    */
  private def recallAudit(exact: DataFrame, approx: DataFrame): DataFrame = {
    val s = exact.sparkSession
    import s.implicits._
    exact.select($"query_id", $"cand_id")
      .join(approx.select($"query_id", $"cand_id").withColumn("hit", lit(1L)),
        Seq("query_id", "cand_id"), "left")
      .groupBy($"query_id")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce($"hit", lit(0L))).as("n_overlap"))
      .withColumn("recall_ppm", expr("(n_overlap * 1000000L) div n_exact"))
  }

  private def oracleRecallTail(approxCte: String): String =
    s"""SELECT e.query_id, COUNT(*) AS n_exact,
       |       CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |       (CAST(SUM(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |         // COUNT(*) AS recall_ppm
       |FROM exact e LEFT JOIN $approxCte a
       |  ON a.query_id = e.query_id AND a.cand_id = e.cand_id
       |GROUP BY 1""".stripMargin

  val bqRecall = Q(
    "v_bq_recall",
    (s, d) => recallAudit(exactCosTopK(s, d), bqTopK(s, d)),
    Some(s"""
      WITH ${oracleBqCtes()},
      $oracleExactCtes
      ${oracleRecallTail("bqk")}
    """.stripMargin.trim),
  )

  /** Per-dim (lo, hi) as two double arrays — ONE scan, 128 partial
    * aggregates, no explode: the scalable way to fit quantization
    * params (an explode-then-groupBy would shuffle corpus x dim rows).
    */
  private[queries] def sq8StatsOn(emb: DataFrame): DataFrame =
    emb.agg(
      array((1 to dim).map(i => min(element_at(col("embedding"), i)).cast("double")): _*).as("lo"),
      array((1 to dim).map(i => max(element_at(col("embedding"), i)).cast("double")): _*).as("hi"))

  private def sq8Stats(s: SparkSession, d: String): DataFrame = sq8StatsOn(vecs(s, d))

  val sq8StatsQ = Q(
    "v_sq8_stats",
    (s, d) => {
      import s.implicits._
      sq8Stats(s, d)
        .select(posexplode(arrays_zip($"lo", $"hi")))
        .select(($"pos" + 1).cast("long").as("dim_idx"),
          micros(col("col.lo")).as("lo_micros"),
          micros(col("col.hi")).as("hi_micros"))
    },
    Some(s"""
      WITH pd AS (
        SELECT i AS dim_idx, CAST(MIN(embedding[i]) AS DOUBLE) AS lo,
               CAST(MAX(embedding[i]) AS DOUBLE) AS hi
        FROM embeddings, generate_series(1, $dim) AS t(i) GROUP BY 1)
      SELECT CAST(dim_idx AS BIGINT) AS dim_idx,
             CAST(FLOOR(1e6 * lo) AS BIGINT) AS lo_micros,
             CAST(FLOOR(1e6 * hi) AS BIGINT) AS hi_micros
      FROM pd
    """.stripMargin.trim),
  )

  /** (vec_id, codes): int8 scalar quantization, c_i = floor(255 (x_i -
    * lo_i) / (hi_i - lo_i)) in [0, 255] (lo/hi are corpus min/max, so no
    * clamp is needed; a degenerate constant dim codes to 0). The stats
    * row rides a broadcast cross join — 1 row against the scan.
    */
  private[queries] def sq8CodesOn(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    sq8Rows(emb, sq8StatsOn(emb)).select($"vec_id", $"codes")
  }

  /** embedding + quantization stats + codes in one pass — the stats
    * cross-join happens ONCE here, so composites (the sq8 search's
    * encode-then-decode) don't pay a second corpus-wide stats scan.
    */
  private def sq8Rows(emb: DataFrame, stats: DataFrame): DataFrame =
    emb
      .crossJoin(broadcast(stats))
      .withColumn("codes", expr(
        """transform(embedding, (x, i) ->
          |  CASE WHEN hi[i] > lo[i]
          |       THEN CAST(floor((CAST(x AS DOUBLE) - lo[i]) * 255.0D / (hi[i] - lo[i])) AS BIGINT)
          |       ELSE 0L END)""".stripMargin))

  private def sq8Codes(s: SparkSession, d: String): DataFrame = sq8CodesOn(vecs(s, d))

  private def oracleSq8Ctes: String =
    s"""pd AS (
       |  SELECT i, CAST(MIN(embedding[i]) AS DOUBLE) AS lo,
       |         CAST(MAX(embedding[i]) AS DOUBLE) AS hi
       |  FROM embeddings, generate_series(1, $dim) AS t(i) GROUP BY 1),
       |st AS (SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi FROM pd),
       |codes AS (
       |  SELECT vec_id, list_transform(generate_series(1, $dim), i ->
       |    CASE WHEN st.hi[i] > st.lo[i]
       |         THEN CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - st.lo[i]) * 255.0 / (st.hi[i] - st.lo[i])) AS BIGINT)
       |         ELSE 0 END) AS codes
       |  FROM embeddings, st)""".stripMargin

  /** SQ8 top-k: cosine over the DEQUANTIZED reconstructions x̂_i =
    * lo_i + (c_i + 0.5)(hi_i - lo_i)/255 — the standard decode (raw
    * symmetric code dot products rank poorly because the [0,255] shift
    * buries the direction information: measured recall@10 was 0-2/10 raw
    * vs 10/10 decoded on this corpus). All double math is the same
    * left-to-right IEEE sequence in both engines; only integer micros
    * reach the output.
    */
  /** The standard SQ8 decode x̂_i = lo_i + (c_i + 0.5)(hi_i - lo_i)/255
    * over a codes column — needs `lo`/`hi` stats columns in scope.
    */
  private def sq8Recon(codesCol: String): Column = expr(
    s"""transform($codesCol, (c, i) ->
       |  lo[i] + (CAST(c AS DOUBLE) + 0.5D) * (hi[i] - lo[i]) / 255.0D)""".stripMargin)

  /** Left-to-right double-array dot fold — bit-identical to the
    * oracle's seeded list_reduce. The codegen'd `dot_dd`
    * ([[graft.functions.DotProductDDExpression]]) replaced the
    * `aggregate(zip_with(...))` HOF chain here (same fold, same IEEE
    * sequence, same null semantics — hash-gated unchanged): HOFs are
    * CodegenFallback, so the SQ8 tiers' inner products ran interpreted
    * per element; now decode AND score both stay in whole-stage
    * codegen. Registration rides [[graft.functions.GraftFunctions
    * .registerDotD]], which every vector entry point already calls.
    */
  private def dotDbl(a: String, b: String): Column =
    graft.functions.GraftFunctions.dotDD(col(a), col(b))

  /** (vec_id, r, self_norm): SQ8-decoded reconstruction + self-norm of
    * every vector in `emb` under corpus stats `stats` — one decode per
    * vector, computed BELOW any join that fans rows out.
    */
  private def sq8Decoded(emb: DataFrame, stats: DataFrame): DataFrame =
    sq8Rows(emb, stats)
      .withColumn("r", sq8Recon("codes"))
      .withColumn("self_norm", sqrt(dotDbl("r", "r")))
      .select(col("vec_id"), col("r"), col("self_norm"))

  /** Panel top-k over a decoded (vec_id, r, self_norm) frame — shared
    * by the live and the stored-index sq8 rows, so the two are the
    * same IEEE sequence by construction.
    */
  private def sq8TopKOf(dec: DataFrame): DataFrame = {
    val s = dec.sparkSession
    import s.implicits._
    val q = dec.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"r".as("qr"), $"self_norm".as("q_norm"))
    val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id".asc)
    dec.select($"vec_id".as("cand_id"), $"r".as("cr"), $"self_norm".as("c_norm"))
      .join(broadcast(q), $"cand_id" =!= $"query_id")
      .withColumn("sim_micros", micros(dotDbl("qr", "cr") / ($"q_norm" * $"c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
  }

  private def sq8TopK(s: SparkSession, d: String): DataFrame =
    // decode + self-norm ONCE PER VECTOR, below the query-panel join:
    // defining the reconstruction after the join re-derives it (and the
    // per-candidate constant sqrt(<cr,cr>)) per (candidate, query) pair
    // — a free panel-width factor on the corpus-sized side. The IEEE
    // sequence is unchanged (sqrt(qq) * sqrt(cc), then the divide), so
    // sim_micros stays bit-identical to the pre-hoist form.
    sq8TopKOf(sq8Decoded(vecs(s, d), sq8Stats(s, d)))

  private def oracleSq8TopKCtes: String = {
    def oRecon(codes: String) =
      s"""list_transform(generate_series(1, $dim), i ->
         |    st.lo[i] + (CAST($codes[i] AS DOUBLE) + 0.5) * (st.hi[i] - st.lo[i]) / 255.0)""".stripMargin
    s"""$oracleSq8Ctes,
       |sq AS (SELECT vec_id AS query_id, codes AS q_codes FROM codes
       |       WHERE vec_id < $nQueries),
       |srecon AS (
       |  SELECT sq.query_id, c.vec_id AS cand_id,
       |         ${oRecon("sq.q_codes")} AS qr,
       |         ${oRecon("c.codes")} AS cr
       |  FROM sq JOIN codes c ON c.vec_id <> sq.query_id, st),
       |sscored AS (
       |  SELECT query_id, cand_id,
       |         CAST(FLOOR(1e6 * (${oDot("qr", "cr")} /
       |           (sqrt(${oDot("qr", "qr")}) * sqrt(${oDot("cr", "cr")})))) AS BIGINT) AS sim_micros
       |  FROM srecon),
       |sqk AS (
       |  SELECT query_id, cand_id, sim_micros,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
       |  FROM sscored QUALIFY rnk <= $topK)""".stripMargin
  }

  val sq8Search = Q(
    "v_sq8_search",
    (s, d) => sq8TopK(s, d),
    Some(s"""
      WITH $oracleSq8TopKCtes
      SELECT query_id, cand_id, sim_micros, rnk FROM sqk
    """.stripMargin.trim),
    bench = true,
  )

  /** The sq8 panel search served from the STORED index — decode comes
    * off the committed codes under the stored quantizer instead of an
    * inline encode, and the result must be bit-identical (same oracle
    * as `v_sq8_search`): stored == computed is hash-gated for the sq8
    * family the way every other stored family's flagship read is. The
    * artifacts are the cascade row's per-JVM cached fleet.
    */
  val sq8FromIndex = Q(
    "v_sq8_from_index",
    (s, d) => {
      graft.functions.GraftFunctions.registerDotD(s)
      val (_, sqDir) = cascadeFleet(s, d)
      sq8TopKOf(sq8DecodedFromCodes(
        StoredIndex.Sq8.resolved(s, sqDir), storedSq8Stats(s, sqDir)))
    },
    Some(s"""
      WITH $oracleSq8TopKCtes
      SELECT query_id, cand_id, sim_micros, rnk FROM sqk
    """.stripMargin.trim),
  )

  val sq8Recall = Q(
    "v_sq8_recall",
    (s, d) => recallAudit(exactCosTopK(s, d), sq8TopK(s, d)),
    Some(s"""
      WITH $oracleSq8TopKCtes,
      $oracleExactCtes
      ${oracleRecallTail("sqk")}
    """.stripMargin.trim),
  )

  /** Matryoshka truncation: cosine over the FIRST `mrlDim` components
    * only — the MRL deployment shape (embeddings trained so prefixes
    * are usable sub-embeddings; the audit measures what this corpus's
    * prefixes actually retain).
    */
  private val mrlDim = 32

  private def oDotK(a: String, b: String, k: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $k),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  private def mrlTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sliced = vecs(s, d)
      .select($"vec_id", slice($"embedding", 1, mrlDim).as("emb32"))
    val q = sliced.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"emb32".as("q_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
    sliced.select($"vec_id".as("cand_id"), $"emb32".as("c_emb"))
      .join(broadcast(q), $"cand_id" =!= $"query_id")
      .withColumn("sim_micros",
        micros(dotd("q_emb", "c_emb") /
          (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= topK)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
  }

  val mrlRecall = Q(
    "v_mrl_recall",
    (s, d) => recallAudit(exactCosTopK(s, d), mrlTopK(s, d)),
    Some(s"""
      WITH mq AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
                  WHERE vec_id < $nQueries),
      mscored AS (
        SELECT mq.query_id, c.vec_id AS cand_id,
               CAST(FLOOR(1e6 * (${oDotK("mq.q_emb", "c.embedding", mrlDim)} /
                 (sqrt(${oDotK("mq.q_emb", "mq.q_emb", mrlDim)}) * sqrt(${oDotK("c.embedding", "c.embedding", mrlDim)}))))
                 AS BIGINT) AS sim_micros
        FROM mq JOIN embeddings c ON c.vec_id <> mq.query_id),
      mqk AS (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
        FROM mscored QUALIFY rnk <= $topK),
      $oracleExactCtes
      ${oracleRecallTail("mqk")}
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // PROGRESSIVE SEARCH CASCADE — the composition that makes the
  // compressed tier pay off at 10^9 vectors: BQ screen (corpus scanned
  // ONCE at 8 bytes/vector) → SQ8 rerank of the C1 survivors (decoded
  // cosine, 64 bytes each) → exact float rerank of the C2 survivors →
  // top-k. Every corpus-sized operation happens at BQ width; the finer
  // tiers touch only candidate sets (≤ queries × C1 rows), fetched by
  // broadcast equi-join on cand_id — at deployment scale that join is a
  // point-lookup against the vector store; here it is a hash probe the
  // corpus streams through once per tier. The one extra corpus pass is
  // the SQ8 stats scan (quantizer TRAINING, a 1-row artifact a
  // deployment stores — the stored-index variant below has no such
  // pass). Each tier's ladder position is recall-audited individually
  // (v_bq_recall, v_sq8_recall); v_cascade_recall is the END-TO-END
  // number a user actually cares about — what the funnel as a whole
  // retains of exact top-k.
  // ---------------------------------------------------------------------

  private[graft] val cascadeC1 = 100L // BQ screen survivors per query (shared with the serve streams)
  private[graft] val cascadeC2 = 30L  // SQ8 rerank survivors per query (shared with the serve streams)

  /** The 3-tier cascade over the live corpus. Tie-breaks on cand_id at
    * every tier keep the candidate sets deterministic cross-engine.
    */
  private def cascadeTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = vecs(s, d)
    // tier 1: BQ Hamming screen — the only corpus-wide distance pass.
    // Two consumers (the distinct-candidate fetch and the tier-2 pair
    // join), so one lazy checkpoint keeps the corpus-wide screen from
    // running twice (r21).
    val cands1 = bqScreen(bqPacked(s, d), cascadeC1)
      .select($"query_id", $"cand_id")
      .localCheckpoint(false)
    // tier 2: SQ8 decoded cosine over the survivors only — decode is
    // per DISTINCT candidate (below the per-query pair fan-out)
    val stats = sq8Stats(s, d)
    val qDec = sq8Decoded(emb.filter($"vec_id" < nQueries), stats)
      .select($"vec_id".as("query_id"), $"r".as("qr"), $"self_norm".as("q_norm"))
    val candIds = cands1.select($"cand_id").distinct()
    val cDec = sq8Decoded(
      emb.join(broadcast(candIds), $"vec_id" === $"cand_id").drop("cand_id"), stats)
      .select($"vec_id".as("cand_id"), $"r".as("cr"), $"self_norm".as("c_norm"))
    val w2 = Window.partitionBy($"query_id").orderBy($"sim2_micros".desc, $"cand_id".asc)
    val cands2 = cands1
      .join(cDec, Seq("cand_id"))
      .join(broadcast(qDec), Seq("query_id"))
      .withColumn("sim2_micros", micros(dotDbl("qr", "cr") / ($"q_norm" * $"c_norm")))
      .withColumn("rk2", row_number().over(w2))
      .filter($"rk2" <= cascadeC2)
      .select($"query_id", $"cand_id")
    // tier 3: exact float cosine over the C2 survivors
    exactRerank(emb, cands2)
  }

  /** Exact float-cosine rerank of a bounded (query_id, cand_id)
    * candidate frame to top-k — the exactCosTopK formula verbatim, so
    * ranks are bit-comparable; candidate floats are fetched by
    * broadcast equi-join (a point-lookup against the vector store at
    * deployment scale).
    */
  private def exactRerank(emb: DataFrame, cands: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    exactRerankAgainst(
      emb.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb")),
      emb, cands, topK)
  }

  /** The rerank against an EXPLICIT (query_id, q_emb) frame — the
    * serving form shared with [[searchBqIndex]].
    */
  private def exactRerankAgainst(qF: DataFrame, emb: DataFrame,
      cands: DataFrame, k: Long): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cF = emb.select($"vec_id".as("cand_id"), $"embedding".as("c_emb"))
    val w3 = Window.partitionBy($"query_id").orderBy($"sim_micros".desc, $"cand_id")
    cF
      .join(broadcast(cands), Seq("cand_id"))
      .join(broadcast(qF), Seq("query_id"))
      .withColumn("sim_micros",
        micros(dotd("q_emb", "c_emb") /
          (sqrt(dotd("q_emb", "q_emb")) * sqrt(dotd("c_emb", "c_emb")))))
      .withColumn("rnk", row_number().over(w3).cast("long"))
      .filter($"rnk" <= k)
      .select($"query_id", $"cand_id", $"sim_micros", $"rnk")
  }

  /** SERVE arbitrary query vectors against the stored BQ index — the
    * deployment entry point the panel rows are the oracle-gated special
    * case of: Hamming-screen each (query_id, embedding) request to
    * `screen` candidates over the committed 8 B/vector words
    * (tombstone-resolved), then exact-float-rerank the survivors to
    * top-`k` against `corpus` (vec_id, embedding — the float store;
    * fetched by broadcast equi-join, a point-lookup at deployment
    * scale). Request ids are their own space (no self-exclusion — see
    * [[bqScreenAgainst]]). Returns (query_id, cand_id, sim_micros,
    * rnk).
    *
    * `keepPairs` — per-request (query_id, vec_id) eligibility, keyed
    * into the screen join itself ([[bqScreenAgainst]]). A request
    * whose query_id is ABSENT from the relation has an empty keep set
    * and is served ZERO candidates (never served unfiltered, never an
    * error) — the [[keepPairsFrom]] absent-request contract.
    */
  def searchBqIndex(queryVecs: DataFrame, path: String, corpus: DataFrame,
      k: Long = topK, screen: Long = cascadeC1,
      excludeSelf: Boolean = false, asOf: Option[Long] = None,
      keepIds: Option[DataFrame] = None,
      keepPairs: Option[DataFrame] = None): DataFrame = {
    val s = queryVecs.sparkSession
    // public entry point: callers may not have gone through vecs()'s
    // session registration (the replica-sweep lesson)
    graft.functions.GraftFunctions.registerDotD(s)
    val qPacked = bqPackedOn(
      queryVecs.select(col("query_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"),
        col("w_lo").as("q_lo"), col("w_hi").as("q_hi"))
    val words = StoredIndex.Bq.resolved(s, path, asOf)
    // both filters compose: a corpus-global keep set (semi-join on the
    // words) AND per-request pairs (keyed into the screen join itself)
    val eligible = keepIds.fold(words)(keep =>
      words.join(keep.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    val cands = bqScreenAgainst(qPacked, eligible, screen, excludeSelf, keepPairs)
      .select(col("query_id"), col("cand_id"))
    exactRerankAgainst(
      queryVecs.select(col("query_id"), col("embedding").as("q_emb")),
      corpus, cands, k)
  }

  /** Metadata-FILTERED serve from the stored BQ index — the pre-filter
    * strategy (see `v_filtered_ann`'s section note) composed with the
    * compressed screen: `keepIds` (a `vec_id` frame, e.g. the ids a
    * pushed-down documents predicate selected) LEFT-SEMI-joins the
    * stored words BEFORE the Hamming rank, so the screen's
    * top-`screen` pool is the top of the FILTERED corpus — a
    * post-filter of an unfiltered screen under-fills arbitrarily when
    * the predicate is selective (its top pool can contain zero
    * eligible rows) — and no float is ever fetched for an ineligible
    * candidate. Cost SHRINKS with selectivity: the semi-join prunes
    * the 8 B/vector scan itself. A one-line delegate so the funnel has
    * exactly one body to maintain; same contract as [[searchBqIndex]]
    * otherwise (own-id-space requests, as-of pin, tombstone-resolved
    * words).
    */
  def searchBqIndexWhere(queryVecs: DataFrame, path: String,
      corpus: DataFrame, keepIds: DataFrame,
      k: Long = topK, screen: Long = cascadeC1,
      excludeSelf: Boolean = false, asOf: Option[Long] = None): DataFrame =
    searchBqIndex(queryVecs, path, corpus, k, screen, excludeSelf, asOf,
      keepIds = Some(keepIds))

  /** Build the per-request eligibility RELATION from a stored
    * attributes table — the declarative front door to `keepPairs`:
    * requests carry their constraint columns (e.g. a `tenant` /
    * `lang` column per request row), `attrs` is the corpus-side
    * attributes frame (`vec_id` + attribute columns, e.g. the
    * documents table), and `cond` is the eligibility predicate joining
    * the two (e.g. `attrs("lang") === requests("req_lang")`). The
    * result is exactly the (query_id, vec_id) pairs frame every
    * `keepPairs` parameter accepts.
    *
    * Plan shape: prefer EQUI-conditions (attribute == request
    * attribute) — Catalyst plans them as hash joins keyed on the
    * attribute, so the relation materializes at
    * O(requests x matching-ids) without a corpus x batch cross. A
    * genuinely non-equi predicate still works but pays the
    * nested-loop the predicate implies; that cost is visible HERE, in
    * the relation build, never smuggled into the serve funnel (which
    * always consumes the relation by equi-join) — and the build now
    * SAYS so: when the planned relation contains a nested-loop or
    * cartesian join, a one-line warning fires (once per JVM; every
    * occurrence is counted on [[nonEquiKeepPairsBuilds]]) so a range
    * predicate over a large attrs table cannot smuggle a silent BNLJ.
    *
    * ABSENT-REQUEST CONTRACT (holds for every `keepPairs` consumer —
    * [[searchBqIndex]], [[searchCascadeIndex]], [[ivfPqSearchFromIndex]]
    * and the serve streams): a request whose query_id appears NOWHERE
    * in the pairs relation has an EMPTY keep set and is served zero
    * candidates — it is not served unfiltered and it does not error.
    * A caller composing a partial relation (e.g. joining only a slice
    * of the attrs table) must union in the unconstrained requests'
    * pairs explicitly if "absent means unfiltered" is the semantics
    * they want.
    */
  def keepPairsFrom(requests: DataFrame, attrs: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame = {
    // the embedding (and any other unused request column) is pruned by
    // Catalyst before the join's exchange — only query_id and the
    // predicate's columns move. distinct() enforces the keepPairs
    // contract HERE, where attrs may legitimately carry several rows
    // per vec_id (a history table, an exploded multi-valued attribute):
    // a duplicated pair would rank its candidate twice downstream,
    // consuming screen slots and emitting duplicate served rows
    val rel = requests.join(attrs, cond)
      .select(col("query_id"), col("vec_id")).distinct()
    // plan-shape lint: sparkPlan (pre-AQE) carries the concrete join
    // nodes; inspecting it costs one analysis+planning pass over a
    // 3-node plan, no execution. AQE can only ever IMPROVE on this
    // initial shape, so a clean initial plan never warns spuriously.
    val nestedLoop = rel.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    if (nestedLoop.nonEmpty) {
      nonEquiKeepPairsBuilds.incrementAndGet()
      if (nonEquiWarned.compareAndSet(false, true))
        System.err.println(
          "graft.keepPairsFrom: non-equi eligibility predicate plans a " +
            "nested-loop join in the relation build (requests x attrs); " +
            "prefer an equi-condition on an attribute column - this cost " +
            "is O(requests x attrs rows), paid here, once per build")
    }
    rel
  }

  /** Count of [[keepPairsFrom]] builds whose relation planned a
    * nested-loop/cartesian join — the observable half of the plan-shape
    * lint (the warning itself prints once per JVM).
    */
  private[graft] val nonEquiKeepPairsBuilds = new java.util.concurrent.atomic.AtomicLong
  private val nonEquiWarned = new java.util.concurrent.atomic.AtomicBoolean

  /** SERVE the full 3-tier cascade from STORED artifacts — the
    * deployment shape with the quantizer persisted: BQ Hamming screen
    * to `screen` candidates over the committed 8 B/vector words, then
    * an SQ8 rerank of the survivors against the STORED codes under the
    * STORED quantizer stats (no training pass anywhere in the serve
    * plan — the one corpus-wide stats aggregation the live cascade
    * pays happened once at [[writeSq8Index]] time), then an exact
    * float rerank of only the `refine` finalists. Float fetches drop
    * from `screen` to `refine` per query (100 → 30 at the defaults);
    * query vectors are encoded/decoded under the stored stats, so the
    * tier-2 scores are bit-identical to the live cascade's when the
    * index was built from the same corpus. Request ids are their own
    * space (self-exclusion opt-in, as [[searchBqIndex]]).
    *
    * Coverage contract: the two artifacts must index the SAME vec_id
    * set — a vector present in only one tier is dropped at the tier-2
    * join (screened but no codes row, or coded but never screened).
    * That direction is deliberate: mid-erasure divergence (a crash
    * between the bq and sq8 tombstone commits) fails CLOSED — the
    * half-deleted vector cannot be served — and the erasure resume
    * protocol restores sync.
    *
    * `keepPairs` follows the [[keepPairsFrom]] absent-request
    * contract: a query_id absent from the relation is served zero
    * candidates, not served unfiltered.
    */
  def searchCascadeIndex(queryVecs: DataFrame, bqPath: String, sq8Path: String,
      corpus: DataFrame, k: Long = topK, screen: Long = cascadeC1,
      refine: Long = cascadeC2, excludeSelf: Boolean = false,
      bqAsOf: Option[Long] = None, sq8AsOf: Option[Long] = None,
      keepIds: Option[DataFrame] = None,
      keepPairs: Option[DataFrame] = None): DataFrame = {
    val s = queryVecs.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerDotD(s)
    // tier 1: Hamming screen over the stored words (8 B/vector — the
    // only corpus-wide distance pass in the whole serve). Each
    // artifact takes an INDEPENDENT as-of pin (the hybrid-retrieval
    // convention): a recorded (bq_epoch, sq8_epoch) pair replays the
    // exact serve after both indexes grew. Both filter shapes land
    // HERE, at the cheapest tier (the searchBqIndexWhere strategy):
    // `keepIds` (corpus-global) semi-joins the words; `keepPairs`
    // (PER-REQUEST (query_id, vec_id) eligibility — two queries in the
    // same batch may carry different keep sets) keys the screen join
    // itself (see [[bqScreenAgainst]]). Either way the screen pool
    // becomes top-of-the-filtered-corpus per query and tiers 2/3
    // inherit the filter through their candidate joins — no code fetch
    // or float fetch for an ineligible (query, id) pair.
    val qPacked = bqPackedOn(
      queryVecs.select(col("query_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"),
        col("w_lo").as("q_lo"), col("w_hi").as("q_hi"))
    val words = StoredIndex.Bq.resolved(s, bqPath, bqAsOf)
    val eligible = keepIds.fold(words)(keep =>
      words.join(keep.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    // two consumers (distinct-candidate fetch + tier-2 pair join) — the
    // lazy checkpoint keeps the corpus-wide screen single-pass (r21)
    val cands1 = bqScreenAgainst(qPacked, eligible, screen, excludeSelf, keepPairs)
      .select($"query_id", $"cand_id")
      .localCheckpoint(false)
    // tier 2: decoded-cosine rerank against the STORED codes — the
    // candidate fetch is a broadcast semi-probe (point lookups at
    // deployment scale), decode happens per DISTINCT candidate below
    // the per-query pair fan-out
    val stats = storedSq8Stats(s, sq8Path, sq8AsOf)
    val qDec = sq8Decoded(
      queryVecs.select(col("query_id").as("vec_id"), col("embedding")), stats)
      .select($"vec_id".as("query_id"), $"r".as("qr"), $"self_norm".as("q_norm"))
    val candIds = cands1.select($"cand_id").distinct()
    val cDec = sq8DecodedFromCodes(
      StoredIndex.Sq8.resolved(s, sq8Path, sq8AsOf)
        .join(broadcast(candIds), $"vec_id" === $"cand_id").drop("cand_id"),
      stats)
      .select($"vec_id".as("cand_id"), $"r".as("cr"), $"self_norm".as("c_norm"))
    val w2 = Window.partitionBy($"query_id").orderBy($"sim2_micros".desc, $"cand_id".asc)
    val cands2 = cands1
      .join(cDec, Seq("cand_id"))
      .join(broadcast(qDec), Seq("query_id"))
      .withColumn("sim2_micros", micros(dotDbl("qr", "cr") / ($"q_norm" * $"c_norm")))
      .withColumn("rk2", row_number().over(w2))
      .filter($"rk2" <= refine)
      .select($"query_id", $"cand_id")
    // tier 3: exact float cosine over the refine survivors only
    exactRerankAgainst(
      queryVecs.select(col("query_id"), col("embedding").as("q_emb")),
      corpus, cands2, k)
  }

  /** The cascade's oracle CTE chain through `csk` (query_id, cand_id,
    * sim_micros, rnk): BQ top-C1 → SQ8-decoded top-C2 → exact top-k,
    * each tier recomputed from scratch in DuckDB.
    */
  private def oracleCascadeCtes: String = oracleCascadeCtesWhere()

  /** The cascade chain with an optional per-request pair predicate
    * pushed into tier 1's screen join ([[oracleBqCtes]]); tiers 2/3
    * inherit it through their joins on the filtered `bqk` pairs —
    * exactly how the engine's `keepPairs` threads the funnel.
    */
  private def oracleCascadeCtesWhere(pairPred: String = "TRUE"): String = {
    def oRecon(codes: String) =
      s"""list_transform(generate_series(1, $dim), i ->
         |    st.lo[i] + (CAST($codes[i] AS DOUBLE) + 0.5) * (st.hi[i] - st.lo[i]) / 255.0)""".stripMargin
    s"""${oracleBqCtes(cascadeC1, pairPred)},
       |$oracleSq8Ctes,
       |cqdec AS (
       |  SELECT vec_id AS query_id, ${oRecon("codes")} AS qr FROM codes, st
       |  WHERE vec_id < $nQueries),
       |ccdec AS (
       |  SELECT c.vec_id AS cand_id, ${oRecon("c.codes")} AS cr
       |  FROM codes c JOIN (SELECT DISTINCT cand_id FROM bqk) s1 ON s1.cand_id = c.vec_id, st),
       |cs2 AS (
       |  SELECT k.query_id, k.cand_id,
       |         CAST(FLOOR(1e6 * (${oDot("qr", "cr")} /
       |           (sqrt(${oDot("qr", "qr")}) * sqrt(${oDot("cr", "cr")})))) AS BIGINT) AS sim2_micros
       |  FROM bqk k JOIN ccdec cc ON cc.cand_id = k.cand_id
       |            JOIN cqdec cq ON cq.query_id = k.query_id),
       |cs2k AS (
       |  SELECT query_id, cand_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim2_micros DESC, cand_id ASC) AS rk2
       |  FROM cs2 QUALIFY rk2 <= $cascadeC2),
       |cs3 AS (
       |  SELECT k.query_id, k.cand_id,
       |         CAST(FLOOR(1e6 * (${oDot("q.embedding", "c.embedding")} /
       |           (sqrt(${oDot("q.embedding", "q.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
       |           AS BIGINT) AS sim_micros
       |  FROM cs2k k JOIN embeddings q ON q.vec_id = k.query_id
       |             JOIN embeddings c ON c.vec_id = k.cand_id),
       |csk AS (
       |  SELECT query_id, cand_id, sim_micros,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id ASC) AS rnk
       |  FROM cs3 QUALIFY rnk <= $topK)""".stripMargin
  }

  val cascadeSearch = Q(
    "v_cascade_search",
    (s, d) => cascadeTopK(s, d),
    Some(s"""
      WITH $oracleCascadeCtes
      SELECT query_id, cand_id, sim_micros, rnk FROM csk
    """.stripMargin.trim),
    bench = true,
  )

  /** The FULL 3-tier cascade FROM STORED ARTIFACTS — the deployment
    * shape with the quantizer persisted: the screen reads the
    * committed BQ words (8 B/vector, tombstone-resolved), the middle
    * tier reranks against the STORED SQ8 codes under the STORED
    * quantizer stats, and the exact rerank fetches floats for only the
    * C2=30 finalists (the 2-tier ancestor of this row paid float
    * fetches for all C1=100 screen survivors). No
    * training pass anywhere in the serve plan — the stats aggregation
    * is [[writeSq8Index]]'s, run once at build. The oracle recomputes
    * all three tiers from the raw embeddings (the v_cascade_search
    * chain verbatim); stored == computed because both indexes were
    * committed from this corpus.
    */
  /** The cascade row's stored artifacts — built ONCE per (JVM, corpus)
    * ([[graft.sources.Scratch.cached]], the deployed-artifact
    * convention): the row is read-only after the build, so repeat
    * invocations measure SERVING cost, which is the number a
    * deployment cares about; the build still runs end to end in every
    * fresh session.
    */
  private def cascadeFleet(s: SparkSession, d: String): (String, String) = {
    val bqDir = graft.sources.Scratch.cached(s"cascade-bq|$d", "graft-bq-cascade") {
      dir => writeBqIndex(vecs(s, d), dir)
    }
    val sqDir = graft.sources.Scratch.cached(s"cascade-sq8|$d", "graft-sq8-cascade") {
      dir => writeSq8Index(vecs(s, d), dir)
    }
    (bqDir, sqDir)
  }

  val cascadeFromIndex = Q(
    "v_cascade_from_index",
    (s, d) => {
      import s.implicits._
      val (bqDir, sqDir) = cascadeFleet(s, d)
      // through the PUBLIC serving API (searchCascadeIndex) so the
      // oracle gates the same code path a deployment's requests take;
      // the panel shares the corpus id space, hence excludeSelf
      searchCascadeIndex(
        vecs(s, d).filter($"vec_id" < nQueries)
          .select($"vec_id".as("query_id"), $"embedding"),
        bqDir, sqDir, vecs(s, d), excludeSelf = true)
    },
    Some(s"""
      WITH $oracleCascadeCtes
      SELECT query_id, cand_id, sim_micros, rnk FROM csk
    """.stripMargin.trim),
    bench = true,
  )

  /** End-to-end recall of the full funnel vs exact top-k — THE cascade
    * deployment number (per-tier audits bound each stage; this bounds
    * their composition).
    */
  val cascadeRecall = Q(
    "v_cascade_recall",
    (s, d) => recallAudit(exactCosTopK(s, d), cascadeTopK(s, d)),
    Some(s"""
      WITH $oracleCascadeCtes,
      $oracleExactCtes
      ${oracleRecallTail("csk")}
    """.stripMargin.trim),
  )

  // ---------------------------------------------------------------------
  // Stored binary-quantization index — the compressed tier as a DAY-2
  // artifact: pack once, store 8 bytes/vector under the manifest
  // protocol, and screen every day's arrivals against ALL of history by
  // Hamming distance WITHOUT an all-pairs scan. Candidate generation is
  // the multi-index pigeonhole (the simhash-dedup construction): split
  // the 64-bit word into 4 disjoint 16-bit bands — any pair within
  // Hamming distance 3 agrees EXACTLY on at least one band, so a 4-way
  // band equi-join finds every such pair with ZERO false negatives, and
  // the exact Hamming filter on the joined pairs discards band-collision
  // false positives (so the screen equals brute force, cheaply). At
  // 100 TB the stored side is 8 B/vector and candidates are keyed on
  // (band, bkey) — the same banded-equi-join class as MinHash LSH,
  // never corpus².
  // ---------------------------------------------------------------------

  /** Screen radius. 3 is the largest distance the 4-band pigeonhole
    * covers exactly; a wider radius needs more/narrower bands (denser
    * collisions) — the standard knob trade.
    */
  private[graft] val bqRadius = 3L

  private[graft] def writeBqIndex(emb: DataFrame, path: String): Unit = {
    // the words and the empty tombstone epoch: independent epoch-0
    // components under one commit (guide §2.6)
    StoredIndex.Bq.build(emb.sparkSession, path)(
      "words" -> (() => StoredIndex.Bq.writeMain(bqPackedOn(emb), path, 0L)))
  }

  /** Forget vectors from the stored index — the right-to-be-forgotten
    * path at index grain: the ids land as a TOMBSTONE epoch (no rewrite
    * of the corpus-sized words), readers resolve words minus tombstones,
    * and [[compactBqIndex]] makes the removal physical. Precedence is
    * epoch-ordered (the sequence-number rule of every deletes-supporting
    * table format): a tombstone removes only word rows appended in
    * EARLIER epochs, so delete-then-re-append resolves to present.
    * Same crash-atomicity and replay hazard as [[appendBqIndex]]
    * (a replayed committed delete is harmless in itself — deleting
    * twice is idempotent — but it bumps the epoch it removes up to,
    * which can swallow a re-append that landed in between).
    */
  def deleteFromBqIndex(ids: DataFrame, path: String): Unit =
    StoredIndex.Bq.nextEpoch(path)(stageBqDelete(ids, path, _))

  /** Stage (but do NOT commit) a tombstone epoch — for the kill drill. */
  private[queries] def stageBqDelete(ids: DataFrame, path: String, e: Long): Unit =
    StoredIndex.Bq.stageTombstones(ids, path, e)

  /** Stage (but do NOT commit) epoch `e` — exposed for the kill drill. */
  private[queries] def stageBqAppend(delta: DataFrame, path: String, e: Long): Unit =
    StoredIndex.Bq.writeMain(bqPackedOn(delta), path, e)

  /** Fold a day's arrivals into the stored words. Crash-atomic via the
    * manifest (stage epoch e, flip last).
    * Replay hazard (IndexManifest writer contract): retry idempotence
    * covers appends that crashed BEFORE the manifest flip; re-running
    * an append that already COMMITTED stores the same words twice and
    * the screen starts flagging the batch against itself.
    */
  def appendBqIndex(delta: DataFrame, path: String): Unit =
    StoredIndex.Bq.nextEpoch(path)(stageBqAppend(delta, path, _))

  /** Fold the committed window into one fresh epoch and raise the
    * floor. The fold writes the RESOLVED view (words minus tombstones)
    * and an empty tombstone epoch — folding words and dels verbatim
    * into one shared epoch would break the epoch-precedence rule (a
    * re-appended id's word would land in the same epoch as its older
    * tombstone and be wrongly removed). Deletes become physical here;
    * the superseded epochs are vacuum's to collect.
    */
  def compactBqIndex(s: SparkSession, path: String): Unit =
    StoredIndex.Bq.compact(s, path)

  // ---------------------------------------------------------------------
  // Stored SQ8 index — the cascade's MIDDLE tier as a day-2 artifact.
  // A deployment trains its scalar quantizer once and stores it with
  // the codes; without the stored stats every stored-index serve must
  // either re-train (a corpus-wide aggregation per request batch) or
  // skip the middle tier and pay float fetches for every screen
  // survivor (the round-16 shape). Components under the manifest
  // protocol: `stats` (ONE row of per-dim lo/hi — the trained
  // quantizer, a rewrite component copied forward on compaction),
  // `codes` (vec_id, codes BYTE-PACKED to a binary column — 64 B/vector
  // at dim 64, format v2; v1 stored `array<bigint>`, 8x wider than
  // needed and wider than the floats themselves — packed via the
  // codegen'd `sq8_pack`, decoded by the fused `sq8_decode`), `dels`
  // (tombstones, the BQ/LSH pattern). Appends encode NEW vectors under
  // the STORED stats — the quantizer is trained once, not drifted per
  // batch (re-training would silently re-scale every stored code);
  // out-of-range components clamp to [0, 255], the standard SQ8
  // saturation. Re-train = rebuild (writeSq8Index), a deliberate
  // full-index event, exactly like IVF-PQ centroid generations.
  // ---------------------------------------------------------------------

  def writeSq8Index(emb: DataFrame, path: String): Unit = {
    import graft.sources.IndexManifest
    val s = emb.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerSq8(s)
    StoredIndex.Sq8.write(sq8StatsOn(emb).coalesce(1), path, "stats", 0L)
    // encode under the JUST-WRITTEN stats (read back, not recomputed):
    // the codes on disk are guaranteed consistent with the stored
    // quantizer even if the stats computation ever changes
    val st = s.read.parquet(IndexManifest.epochDir(path, "stats", 0L))
    // codes and the empty tombstones are independent once stats has
    // landed (guide §2.6)
    StoredIndex.Sq8.build(s, path)(
      "codes" -> (() =>
        StoredIndex.Sq8.writeMain(
          sq8Rows(emb, st).select($"vec_id",
            graft.functions.GraftFunctions.sq8Pack($"codes").as("codes")),
          path, 0L)))
  }

  /** The stored quantizer: one (lo, hi) row. Lives at the WINDOW FLOOR
    * (written at build, re-staged only when a compaction rebases the
    * window) — the IVF-PQ centroid-generation invariant: appends and
    * tombstones advance the ceiling without touching the trained
    * artifact, and vacuum (which deletes strictly below the floor)
    * never collects it. An as-of pin resolves the same floor, so past
    * reads decode under the same quantizer they were encoded with.
    */
  private[graft] def storedSq8Stats(s: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    import graft.sources.IndexManifest
    val st = asOf.map(IndexManifest.stateAsOf(path, _, IndexManifest.Sq8))
      .getOrElse(StoredIndex.Sq8.state(path))
    s.read.parquet(IndexManifest.epochDir(path, "stats", st.baseEpoch))
  }

  /** Decode + self-norm from a STORED (vec_id, codes) frame (codes
    * byte-packed, format v2) under quantizer `stats` — the serving-side
    * twin of [[sq8Decoded]] (which starts from floats). The fused
    * codegen'd `sq8_decode` computes the SAME reconstruction, operand
    * for operand (see [[graft.functions.Sq8DecodeExpression]]), so
    * scores stay bit-identical to the live cascade's while the stored
    * scan reads 64 B/vector instead of v1's 512 B `array<bigint>`.
    */
  private def sq8DecodedFromCodes(codes: DataFrame, stats: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerSq8(codes.sparkSession)
    codes
      .crossJoin(broadcast(stats))
      .withColumn("r",
        graft.functions.GraftFunctions.sq8Decode(col("codes"), col("lo"), col("hi")))
      .withColumn("self_norm", sqrt(dotDbl("r", "r")))
      .select(col("vec_id"), col("r"), col("self_norm"))
  }

  /** Fold new vectors in, encoded under the STORED stats (clamped to
    * [0, 255] where a component falls outside the trained range — the
    * standard SQ8 saturation; see the section note on why appends never
    * re-train). Same crash-atomicity and committed-replay hazard as
    * [[appendBqIndex]].
    *
    * Caller contract: NEW ids only. Appending a vec_id that is already
    * live (not tombstoned) creates a second live codes row for it —
    * the epoch-precedence rule only lets a tombstone supersede, so both
    * rows resolve, and in [[searchCascadeIndex]]'s tier 2 the duplicate
    * joins twice into the candidate frame, consuming two of the
    * `refine` slots and emitting duplicate (query, cand) pairs. An
    * in-place update is delete-then-append (two epochs, resolved
    * correctly); the library does not anti-join the delta against the
    * stored codes because that would put a full index scan in front of
    * every day's fold — the caller's ingest ledger already knows which
    * ids are new (the same line of defense as the committed-replay
    * hazard). For the BQ+SQ8 pair, [[appendCascadeDurable]] wraps both
    * appends in one crash-resumable intent; streaming callers that
    * can't track ids upstream can opt into the id anti-join at the
    * stream boundary instead ([[graft.streaming.Streams
    * .cascadeIngestStream]]'s `dedupIds` — paying the id scan per
    * micro-batch is then an explicit choice, not a default tax).
    */
  def appendSq8Index(delta: DataFrame, path: String): Unit = {
    val s = delta.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.registerSq8(s)
    StoredIndex.Sq8.nextEpoch(path)(e => StoredIndex.Sq8.writeMain(
      delta.crossJoin(broadcast(storedSq8Stats(s, path)))
      .withColumn("codes", expr(
        """transform(embedding, (x, i) ->
          |  CASE WHEN hi[i] > lo[i]
          |       THEN LEAST(255L, GREATEST(0L,
          |         CAST(floor((CAST(x AS DOUBLE) - lo[i]) * 255.0D / (hi[i] - lo[i])) AS BIGINT)))
          |       ELSE 0L END)""".stripMargin))
      .select($"vec_id",
        graft.functions.GraftFunctions.sq8Pack($"codes").as("codes")),
      path, e))
  }

  /** Forget vectors — tombstone epoch, epoch-precedence resolution,
    * physical removal at [[compactSq8Index]] (the fleet-wide pattern).
    */
  def deleteFromSq8Index(ids: DataFrame, path: String): Unit =
    StoredIndex.Sq8.forget(ids, path)

  /** Fold the window into one fresh epoch: RESOLVED codes + empty
    * tombstones + the stats copied forward (the trained quantizer
    * survives compaction unchanged), floor raised — the
    * [[compactBqIndex]] discipline.
    */
  def compactSq8Index(s: SparkSession, path: String): Unit =
    StoredIndex.Sq8.compact(s, path, extra = (_, e) => Seq(
      "stats" -> (() =>
        StoredIndex.Sq8.write(storedSq8Stats(s, path).coalesce(1), path, "stats", e))))

  // ---------------------------------------------------------------------
  // CASCADE PAIR LIFECYCLE — the BQ and SQ8 artifacts a cascade serves
  // from must index the SAME vec_id set (the coverage contract on
  // [[searchCascadeIndex]]: a vector present in only one tier is
  // dropped at the tier-2 join, deliberately fail-closed). Ingest is
  // two separate appends, so a crash between them leaves a vector
  // silently unservable forever. [[cascadeCoverageAudit]] makes that
  // divergence observable; [[appendCascadeDurable]] closes the window.
  // ---------------------------------------------------------------------

  /** One row (both_tiers, bq_only, sq8_only): vec_ids by tier
    * membership across the cascade's two stored artifacts, through
    * exactly the tombstone-resolved views the serve reads. A healthy
    * pair audits (corpus, 0, 0); any nonzero single-tier count is a
    * vector the coverage contract is silently dropping. Scale shape:
    * one id-column scan per artifact into a single full-outer
    * equi-join on vec_id — the same one-shuffle class as the exact
    * dedup family; ids only, never codes or words.
    */
  def cascadeCoverageAudit(s: SparkSession, bqPath: String, sq8Path: String,
      bqAsOf: Option[Long] = None, sq8AsOf: Option[Long] = None): DataFrame = {
    import s.implicits._
    val b = StoredIndex.Bq.resolved(s, bqPath, bqAsOf)
      .select($"vec_id").withColumn("in_bq", lit(1L))
    val q = StoredIndex.Sq8.resolved(s, sq8Path, sq8AsOf)
      .select($"vec_id").withColumn("in_sq8", lit(1L))
    b.join(q, Seq("vec_id"), "full_outer")
      .agg(
        coalesce(sum(when($"in_bq".isNotNull && $"in_sq8".isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("both_tiers"),
        coalesce(sum(when($"in_bq".isNotNull && $"in_sq8".isNull, 1L)
          .otherwise(0L)), lit(0L)).as("bq_only"),
        coalesce(sum(when($"in_bq".isNull && $"in_sq8".isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("sq8_only"))
  }

  /** The paired BQ+SQ8 append under an [[EpochLedger]] intent: the
    * delta persists under `intentRoot` (`delta/`), then the intent,
    * BEFORE either index is touched; the two appends run in fixed order
    * (bq, then sq8). A crash anywhere resumes from DISK alone via
    * [[resumeAppendCascade]], which appends only the tier that has not
    * advanced, restoring coverage. One in-flight intent per root,
    * enforced. Caller contract unchanged from the underlying appenders:
    * NEW ids only (see [[appendSq8Index]]).
    */
  def appendCascadeDurable(delta: DataFrame, bqPath: String, sq8Path: String,
      intentRoot: String): Unit =
    appendCascadeDurable(delta, bqPath, sq8Path, intentRoot, failAfter = Int.MaxValue)

  /** The planted-crash hook for the drill: `failAfter = k` throws
    * after k tier appends committed (k=1 crashes exactly between the
    * BQ and SQ8 appends — the divergence window this protocol exists
    * to close).
    */
  private[graft] def appendCascadeDurable(delta: DataFrame, bqPath: String,
      sq8Path: String, intentRoot: String, failAfter: Int): Unit = {
    require(!EpochLedger.isOpen(intentRoot),
      s"pending cascade-append intent at $intentRoot - resumeAppendCascade first " +
        "(one in-flight paired append per root)")
    delta.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$intentRoot/delta")
    runCascadeAppend(delta.sparkSession, intentRoot,
      EpochLedger.pending(EpochLedger.intent(intentRoot), "cascade-append",
        EpochLedger.legs(Seq("bq" -> bqPath, "sq8" -> sq8Path))), failAfter)
  }

  /** Resume a crashed [[appendCascadeDurable]] from disk alone. */
  def resumeAppendCascade(s: SparkSession, intentRoot: String): Unit =
    runCascadeAppend(s, intentRoot, EpochLedger.resume(intentRoot, "cascade-append",
      "cascade-append"), failAfter = Int.MaxValue)

  /** Append the delta to each pending tier, then settle the intent. */
  private def runCascadeAppend(s: SparkSession, intentRoot: String,
      legs: Seq[EpochLedger.Leg], failAfter: Int): Unit = {
    lazy val d = s.read.parquet(s"$intentRoot/delta")
    legs.zipWithIndex.foreach { case (leg, i) =>
      if (i >= failAfter)
        throw new RuntimeException(s"planted crash before tier '${leg.tag}' append")
      leg.tag match {
        case "bq" => appendBqIndex(d, leg.path)
        case "sq8" => appendSq8Index(d, leg.path)
      }
    }
    EpochLedger.complete(intentRoot)
  }

  // ---------------------------------------------------------------------
  // Filtered search at the STORED tier — the pre-filter argument above
  // carried into the deployment funnel: filter → compressed screen →
  // exact rerank. The semi-join lands on the 8 B/vector stored words
  // BEFORE the Hamming rank, so the screen pool is top-of-the-filtered-
  // corpus (exact w.r.t. the predicate, unlike post-filtering an
  // unfiltered screen) and the float fetch stays bounded by `screen`
  // ELIGIBLE candidates. The oracle replays the whole funnel from the
  // raw embeddings: pack → keep-join → Hamming top-C → exact rerank.
  // (Declared AFTER cascadeC1 on purpose: the oracle string interpolates
  // the constant at object init — the forward-referenced-refineC lesson,
  // see the v_ivfpq_refined row's note.)
  // ---------------------------------------------------------------------

  val filteredBq = Q(
    "v_filtered_bq",
    (s, d) => {
      import s.implicits._
      val (bqDir, _) = cascadeFleet(s, d)
      val keep = Tables.documents(s, d).filter($"lang" === "en")
        .select($"doc_id".as("vec_id"))
      val q = vecs(s, d).filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding")
      searchBqIndexWhere(q, bqDir, vecs(s, d), keep, excludeSelf = true)
    },
    Some(s"""
      WITH packed AS (SELECT vec_id, ${oPackHalf(1)} AS w_lo, ${oPackHalf(33)} AS w_hi
                      FROM embeddings),
      keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      bq AS (SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi FROM packed
             WHERE vec_id < $nQueries),
      cand AS (SELECT p.* FROM packed p JOIN keep k ON k.doc_id = p.vec_id),
      bscored AS (
        SELECT bq.query_id, c.vec_id AS cand_id,
               CAST(bit_count(xor(bq.q_lo, c.w_lo)) + bit_count(xor(bq.q_hi, c.w_hi))
                 AS BIGINT) AS hamming
        FROM bq JOIN cand c ON c.vec_id <> bq.query_id),
      pool AS (
        SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming ASC, cand_id) AS srk
        FROM bscored QUALIFY srk <= $cascadeC1),
      scored AS (
        SELECT p.query_id, p.cand_id,
               CAST(FLOOR(1e6 * (${oDot("q.embedding", "c.embedding")} /
                 (sqrt(${oDot("q.embedding", "q.embedding")}) * sqrt(${oDot("c.embedding", "c.embedding")}))))
                 AS BIGINT) AS sim_micros
        FROM pool p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = p.cand_id)
      SELECT query_id, cand_id, sim_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim_micros DESC, cand_id) AS rnk
      FROM scored QUALIFY rnk <= $topK
    """.stripMargin.trim),
  )

  /** PER-REQUEST filtered serving through the FULL stored cascade —
    * the production ANN filter shape (tenant / language / license is
    * per-request, not corpus-global): two queries in the SAME batch
    * carry DIFFERENT keep sets. The fixture is adversarial by
    * construction: each panel query may only see candidates of its own
    * id PARITY, so the keep sets of the even and odd queries are
    * DISJOINT — an even query's top candidate is every odd query's
    * excluded id, the case a post-filter (or a shared corpus-global
    * filter) gets wrong. The pairs frame threads tier 1's screen join
    * ([[bqScreenAgainst]]) and tiers 2/3 inherit through their
    * candidate joins; the oracle replays all three tiers from the raw
    * embeddings with the parity predicate inside the screen join —
    * under-filled pools, per-tier rank cuts and all.
    */
  val filteredPairs = Q(
    "v_filtered_pairs",
    (s, d) => {
      import s.implicits._
      val (bqDir, sqDir) = cascadeFleet(s, d)
      val base = vecs(s, d)
      val q = base.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding")
      // the per-request eligibility RELATION, built as an equi-join on
      // the parity key (never queries x corpus)
      val pairs = q.select($"query_id", ($"query_id" % 2).as("par"))
        .join(base.select($"vec_id", ($"vec_id" % 2).as("par")), Seq("par"))
        .select($"query_id", $"vec_id")
      searchCascadeIndex(q, bqDir, sqDir, base,
        excludeSelf = true, keepPairs = Some(pairs))
    },
    Some(s"""
      WITH ${oracleCascadeCtesWhere("c.vec_id % 2 = bq.query_id % 2")}
      SELECT query_id, cand_id, sim_micros, rnk FROM csk
    """.stripMargin.trim),
  )

  /** The coverage audit oracle-gated with a PLANTED half-append: build
    * the pair from the corpus, then land 5 new vectors in BQ only —
    * exactly the state a crash between the two tier appends leaves
    * (which [[appendCascadeDurable]] exists to heal; the drill in
    * CascadePairSpec crashes for real and resumes). The audit must
    * report the full corpus in both tiers, the 5 orphans as bq_only,
    * and nothing sq8-only; the oracle recomputes all three counts from
    * the corpus by construction.
    */
  val cascadeCoverage = Q(
    "v_cascade_coverage",
    (s, d) => {
      import s.implicits._
      val base = vecs(s, d)
      val off = base.agg(max($"vec_id")).first().getLong(0) + 1L
      val bqDir = graft.sources.Scratch.dir("graft-cov-bq")
      val sqDir = graft.sources.Scratch.dir("graft-cov-sq8")
      writeBqIndex(base, bqDir)
      writeSq8Index(base, sqDir)
      appendBqIndex(base.filter($"vec_id" < 5)
        .select(($"vec_id" + off).as("vec_id"), $"embedding"), bqDir)
      cascadeCoverageAudit(s, bqDir, sqDir)
    },
    Some("""
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS both_tiers,
             CAST(5 AS BIGINT) AS bq_only,
             CAST(0 AS BIGINT) AS sq8_only
    """.stripMargin.trim),
  )

  /** The 4 x 16-bit band rows of a packed frame (exact integer
    * splits — div/mod on the two 32-bit halves).
    */
  private[graft] def bqBandRows(packed: DataFrame): DataFrame =
    packed
      .withColumn("bk", explode(array(
        struct(lit(0).as("band"), (col("w_lo") % 65536L).as("bkey")),
        struct(lit(1).as("band"), expr("w_lo div 65536L").as("bkey")),
        struct(lit(2).as("band"), (col("w_hi") % 65536L).as("bkey")),
        struct(lit(3).as("band"), expr("w_hi div 65536L").as("bkey")))))
      .withColumn("band", col("bk.band"))
      .withColumn("bkey", col("bk.bkey"))
      .drop("bk")

  /** Band rows of an arbitrary (vec_id, embedding, ...) frame — the
    * pack replaces the embedding; every OTHER column rides along (the
    * streaming twin keeps its event-time column through here).
    */
  private[graft] def bqBandRowsOf(df: DataFrame): DataFrame =
    bqBandRows(df
      .withColumn("w_lo", packHalf(1))
      .withColumn("w_hi", packHalf(33))
      .drop("embedding"))

  /** (vec_id, verdict) for a delta screened against the stored words:
    * `neardup_of_base` when some stored vector is within [[bqRadius]],
    * else `kept`. Exactly equal to a brute-force Hamming screen (the
    * pigeonhole argument above), at banded-equi-join cost.
    */
  private[graft] def bqNearDupFromIndex(delta: DataFrame, path: String): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val dBands = bqBandRows(bqPackedOn(delta))
      .select($"vec_id".as("d_id"), $"w_lo".as("d_lo"), $"w_hi".as("d_hi"),
        $"band", $"bkey")
    val bBands = bqBandRows(StoredIndex.Bq.resolved(s, path))
      .select($"vec_id".as("b_id"), $"w_lo".as("b_lo"), $"w_hi".as("b_hi"),
        $"band", $"bkey")
    val hits = dBands.join(bBands, Seq("band", "bkey"))
      .select($"d_id", $"d_lo", $"d_hi", $"b_id", $"b_lo", $"b_hi")
      .distinct() // a close pair agrees on several bands
      .withColumn("hamming",
        (bit_count($"d_lo".bitwiseXOR($"b_lo")) +
          bit_count($"d_hi".bitwiseXOR($"b_hi"))).cast("long"))
      .filter($"hamming" <= bqRadius)
      .select($"d_id".as("vec_id"))
      .distinct()
    delta.select($"vec_id")
      .join(hits.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select($"vec_id",
        when($"hit".isNotNull, lit("neardup_of_base")).otherwise(lit("kept"))
          .as("verdict"))
  }

  /** Planted-delta screen through the STORED index: arrivals are
    * 3-dim sign perturbations of every 7th corpus vector (within the
    * radius — MUST be flagged; pigeonhole guarantees the banded join
    * surfaces them) and full negations of every 11th (Hamming ~64 from
    * everything, incl. other base vectors — the measured max same-sign
    * agreement on this corpus leaves >= 14 bits — MUST be kept). The
    * corpus itself has no sign-space near-dups (min cross Hamming 14),
    * so the plants are what make the verdict set non-degenerate.
    */
  /** 3-dim sign perturbations of every 7th base vector, ids offset —
    * the planted within-radius arrivals both stored-screen rows share.
    */
  private def plantedBqDup(base: DataFrame, off: Long): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    base.filter($"vec_id" % 7 === 3)
      .withColumn("r", ($"vec_id" % 21).cast("int"))
      .select(($"vec_id" + off).as("vec_id"),
        expr("""transform(embedding, (x, i) ->
          |  CASE WHEN i + 1 = 1 + r OR i + 1 = 22 + r OR i + 1 = 43 + r
          |       THEN -x ELSE x END)""".stripMargin).as("embedding"))
  }

  val bqDeltaNearDup = Q(
    "v_bq_delta_neardup",
    (s, d) => {
      import s.implicits._
      val base = vecs(s, d).select($"vec_id", $"embedding")
      val off = base.agg(max($"vec_id")).first().getLong(0) + 1L
      val dup = plantedBqDup(base, off)
      val novel = base.filter($"vec_id" % 11 === 5)
        .select(($"vec_id" + lit(2L) * off).as("vec_id"),
          expr("transform(embedding, x -> -x)").as("embedding"))
      val dir = graft.sources.Scratch.dir("graft-bq-idx")
      writeBqIndex(base, dir)
      bqNearDupFromIndex(dup.unionByName(novel), dir)
    },
    Some(s"""
      WITH off AS (SELECT MAX(vec_id) + 1 AS o FROM embeddings),
      dup AS (
        SELECT b.vec_id + o.o AS vec_id,
               list_transform(generate_series(1, $dim), i ->
                 CASE WHEN i = 1 + b.vec_id % 21 OR i = 22 + b.vec_id % 21
                        OR i = 43 + b.vec_id % 21
                      THEN -embedding[i] ELSE embedding[i] END) AS embedding
        FROM embeddings b, off o WHERE b.vec_id % 7 = 3),
      novel AS (
        SELECT b.vec_id + 2 * o.o AS vec_id,
               list_transform(embedding, x -> -x) AS embedding
        FROM embeddings b, off o WHERE b.vec_id % 11 = 5),
      delta AS (SELECT * FROM dup UNION ALL SELECT * FROM novel),
      bw AS (SELECT vec_id, ${oPackHalf(1)} AS w_lo, ${oPackHalf(33)} AS w_hi
             FROM embeddings),
      dw AS (SELECT vec_id, ${oPackHalf(1)} AS w_lo, ${oPackHalf(33)} AS w_hi
             FROM delta),
      bb AS (SELECT vec_id, w_lo, w_hi, i AS band,
               CASE i WHEN 0 THEN w_lo % 65536 WHEN 1 THEN w_lo // 65536
                      WHEN 2 THEN w_hi % 65536 ELSE w_hi // 65536 END AS bkey
             FROM bw, generate_series(0, 3) t(i)),
      db AS (SELECT vec_id, w_lo, w_hi, i AS band,
               CASE i WHEN 0 THEN w_lo % 65536 WHEN 1 THEN w_lo // 65536
                      WHEN 2 THEN w_hi % 65536 ELSE w_hi // 65536 END AS bkey
             FROM dw, generate_series(0, 3) t(i)),
      hits AS (
        SELECT DISTINCT d.vec_id
        FROM db d JOIN bb b ON d.band = b.band AND d.bkey = b.bkey
        WHERE CAST(bit_count(xor(d.w_lo, b.w_lo)) + bit_count(xor(d.w_hi, b.w_hi))
                AS BIGINT) <= $bqRadius)
      SELECT d.vec_id,
             CASE WHEN h.vec_id IS NOT NULL THEN 'neardup_of_base' ELSE 'kept' END AS verdict
      FROM delta d LEFT JOIN hits h ON d.vec_id = h.vec_id
    """.stripMargin.trim),
  )

  /** The forget path hash-gated end to end: the index is built on the
    * full corpus, every 13th-mod-5 vector is DELETED (tombstone epoch),
    * and the planted perturbations are screened — a perturbation of a
    * FORGOTTEN vector must come back `kept` (its source no longer
    * screens), of a surviving vector `neardup_of_base`. The oracle
    * recomputes the banded screen against corpus-minus-deleted from
    * scratch, so a tombstone the reader fails to apply (or applies to
    * the wrong epoch window) is a hash mismatch.
    */
  val bqDeleteScreen = Q(
    "v_bq_delete_screen",
    (s, d) => {
      import s.implicits._
      val base = vecs(s, d).select($"vec_id", $"embedding")
      val off = base.agg(max($"vec_id")).first().getLong(0) + 1L
      val dir = graft.sources.Scratch.dir("graft-bq-del")
      writeBqIndex(base, dir)
      deleteFromBqIndex(base.filter($"vec_id" % 13 === 5).select($"vec_id"), dir)
      bqNearDupFromIndex(plantedBqDup(base, off), dir)
    },
    Some(s"""
      WITH off AS (SELECT MAX(vec_id) + 1 AS o FROM embeddings),
      survivors AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 13 <> 5),
      delta AS (
        SELECT b.vec_id + o.o AS vec_id,
               list_transform(generate_series(1, $dim), i ->
                 CASE WHEN i = 1 + b.vec_id % 21 OR i = 22 + b.vec_id % 21
                        OR i = 43 + b.vec_id % 21
                      THEN -embedding[i] ELSE embedding[i] END) AS embedding
        FROM embeddings b, off o WHERE b.vec_id % 7 = 3),
      bw AS (SELECT vec_id, ${oPackHalf(1)} AS w_lo, ${oPackHalf(33)} AS w_hi
             FROM survivors),
      dw AS (SELECT vec_id, ${oPackHalf(1)} AS w_lo, ${oPackHalf(33)} AS w_hi
             FROM delta),
      bb AS (SELECT vec_id, w_lo, w_hi, i AS band,
               CASE i WHEN 0 THEN w_lo % 65536 WHEN 1 THEN w_lo // 65536
                      WHEN 2 THEN w_hi % 65536 ELSE w_hi // 65536 END AS bkey
             FROM bw, generate_series(0, 3) t(i)),
      db AS (SELECT vec_id, w_lo, w_hi, i AS band,
               CASE i WHEN 0 THEN w_lo % 65536 WHEN 1 THEN w_lo // 65536
                      WHEN 2 THEN w_hi % 65536 ELSE w_hi // 65536 END AS bkey
             FROM dw, generate_series(0, 3) t(i)),
      hits AS (
        SELECT DISTINCT d.vec_id
        FROM db d JOIN bb b ON d.band = b.band AND d.bkey = b.bkey
        WHERE CAST(bit_count(xor(d.w_lo, b.w_lo)) + bit_count(xor(d.w_hi, b.w_hi))
                AS BIGINT) <= $bqRadius)
      SELECT d.vec_id,
             CASE WHEN h.vec_id IS NOT NULL THEN 'neardup_of_base' ELSE 'kept' END AS verdict
      FROM delta d LEFT JOIN hits h ON d.vec_id = h.vec_id
    """.stripMargin.trim),
  )

  val qs: Seq[Q] = Seq(
    bqSearch,
    bqDeltaNearDup,
    bqDeleteScreen,
    bqRecall,
    sq8StatsQ,
    sq8Search,
    sq8FromIndex,
    sq8Recall,
    mrlRecall,
    cascadeSearch,
    cascadeRecall,
    cascadeFromIndex,
    cascadeCoverage,
    filteredBq,
    filteredPairs,
    indexBalance,
    indexDrift,
    normStats,
    knnBrute,
    filteredAnn,
    mmrRerank,
    lshBuckets,
    annLsh,
    annLshMulti,
    nearDupCosine,
    ivfAssign,
    ivfSearch,
    ivfSearchNprobe,
    ivfRecall,
    ivfRecallTrained,
    docNearDup,
    semanticDedup,
    kmeansStep,
    dedupMultimodal,
    deltaSemantic,
    clusterBalance,
    pqEncode,
    pqSearch,
    pqRecall,
    pqRecallTrained,
    ivfPqSearch,
    ivfPqAsOf,
    ivfPqRefined,
    ivfPqRefinedRecall,
    indexSplit,
    ivfPqResidualSearch,
    clusterTopics,
  )
}
