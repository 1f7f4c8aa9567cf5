package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Memo
import graft.ops._




/** The Rank tier of the extension-query registry —
  * split from the monolithic Qext.scala (round-17 verdict item 7, pure
  * mechanical move: bodies unchanged). [[Qext]] composes the tiers; see
  * its scaladoc for the registry/oracle policy.
  */
private[queries] trait QextRankTier { this: QextBase =>


  /** BM25 inverted index ([[Retrieval.buildIndex]]) of the corpus, built
    * once per session and corpus in [[Memo.store]] — the
    * ingest-then-query shape, same lifecycle as the minhash store.
    */
  private def bm25Index(spark: SparkSession, dir: String): String = {
    val docs = t(spark, dir, "documents")
    Memo.store(docs, "bm25index")(
      Retrieval.buildIndex(docs, "doc_id", "text", _))
  }


  // --------------------------------------------------- retrieval / top-k

  /** Shared BM25 query terms: one rare token (df 25 at sf0.01 — high idf)
    * and two common ones, so the ranking exercises idf discrimination,
    * multi-term accumulation, and the missing-term zero path.
    */
  private[queries] val bm25Terms = Seq("dup", "spark", "merge")


  /** BM25 top-20 ([[Retrieval.bm25]]): rational-idf variant (division is
    * IEEE correctly-rounded; libm log is not), fixed-order term sum —
    * exact oracle. Postings-only scoring + TakeOrderedAndProject top-N;
    * the corpus is never joined or globally sorted.
    */
  def qExtBm25Topk(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25(t(spark, dir, "documents"), "doc_id", "text",
        bm25Terms, topN = 20)
      .orderBy(col("score").desc, col("doc_id").asc)


  /** BM25 over the stored inverted index ([[Retrieval.bm25FromIndex]] on
    * [[bm25Index]]): the warm ingest-then-query path — the term IN-list
    * pushes to the postings parquet scan, so a query reads slivers, not
    * the corpus. Result identical to q_ext_bm25_topk (same stats, same
    * arithmetic) — shares its oracle.
    */
  def qExtBm25Indexed(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25FromIndex(spark, bm25Index(spark, dir), "doc_id",
        bm25Terms, topN = 20)
      .orderBy(col("score").desc, col("doc_id").asc)


  /** Hybrid retrieval: BM25 sparse ranking fused with a dense cosine
    * ranking (query = embedding of vec_id 0, self excluded) by
    * reciprocal-rank fusion ([[Retrieval.rrfFuse]] — union+groupBy, no
    * full-outer join). Both legs are top-50; ranks attach AFTER the cut
    * so the rank windows are O(50). At sf0.1 embeddings cover only a
    * prefix of doc ids — the fusion's missing-leg path is exercised for
    * real, not just in specs.
    */
  def qExtHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // The two legs are INDEPENDENT job chains, each ending in a k-bounded
    // (<= 50 row) result — run them concurrently (guide §2.6: actions are
    // only sequential because driver code calls them sequentially) so the
    // dense leg's tasks back-fill the sparse leg's stage tails instead of
    // queueing after them. Fusion math and output are unchanged.
    //
    // sparse leg from the stored inverted index ([[bm25Index]]) — scores
    // identical to the direct form, and the hybrid query shouldn't
    // re-tokenize a corpus the ingest path already indexed
    val sparseF = scala.concurrent.Future {
      Retrieval.ranked(
        Retrieval.bm25FromIndex(spark, bm25Index(spark, dir), "doc_id",
          bm25Terms, topN = 50),
        "doc_id", "rank_sparse").select("doc_id", "rank_sparse")
    }
    val denseF = scala.concurrent.Future {
      val d = Similarity.bruteForceTopK(emb.filter(col("vec_id") === 0), emb,
          "vec_id", "embedding", k = 50)
        .select(col("cand_id").as("doc_id"), col("rank").as("rank_dense"))
      // k-bounded by construction: materialize as a LocalRelation (the
      // same pattern as Retrieval.ranked on the sparse side) so the
      // dense jobs run NOW, overlapped, not at fusion time
      spark.createDataFrame(java.util.Arrays.asList(d.collect(): _*), d.schema)
    }
    // await BOTH legs before surfacing a failure: rethrowing the first
    // while the other still runs would leave its jobs (and bm25's cache
    // pin) live past the call
    def await[T](f: scala.concurrent.Future[T]) = scala.util.Try(
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    val (sparseT, denseT) = (await(sparseF), await(denseF))
    val sparse = sparseT.get
    val dense = denseT.get
    Retrieval.rrfFuse(sparse, dense, "doc_id",
        rankA = "rank_sparse", rankB = "rank_dense", topN = 20)
      .orderBy(col("rrf").desc, col("doc_id").asc)
  }


  /** Longest 5 docs per source via the bounded-heap aggregate
    * ([[TopK.perGroupTopK]]): the shuffle carries at most
    * |sources| x 5 structs after map-side combine — the window form this
    * replaces shuffles and sorts the whole corpus. Oracle is that window
    * form in DuckDB (identical answer by the total order).
    */
  def qExtTopkPerGroup(spark: SparkSession, dir: String): DataFrame =
    TopK.perGroupTopK(t(spark, dir, "documents"), Seq("source"),
        col("n_chars"), col("doc_id"), k = 5,
        payloadName = "doc_id", ordName = "n_chars")
      .orderBy("source", "rank")


  /** BPE merge induction ([[Bpe.learnMerges]]): the first 12 merges
    * learned from the corpus — tokenizer training as a first-class
    * engine operation. Iterations run over the compact (word, count)
    * table, never the corpus; ties break lexicographically, so the
    * merge sequence is a pure function of the input and the generated
    * CTE-chain oracle (one level per iteration) reproduces it exactly.
    */
  def qExtBpeMerges(spark: SparkSession, dir: String): DataFrame =
    Bpe.learnMerges(t(spark, dir, "documents"), "text", numMerges = 12)
      .orderBy("merge_rank")


  /** PageRank ([[PageRank.pageRank]], 5 iterations) over a manufactured
    * 3-regular link graph (dst = (doc_id·{3,5,7}+{1,2,3}) mod N — the
    * corpus has no link column, so the graph is a deterministic function
    * of the ids, like the PII/URL/script fixtures). Integer-scaled ranks
    * make the result partitioning-independent and the oracle (a generated
    * CTE chain, one (contrib, dangling, rank) level per iteration)
    * token-for-token exact.
    */
  def qExtPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val n = docs.count() // graph modulus: one k=1 driver scalar
    val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 3 + 1) % n,
          (col("doc_id") * 5 + 2) % n,
          (col("doc_id") * 7 + 3) % n)).as("dst"))
      .distinct()
    PageRank.pageRankManaged(edges, "src", "dst", iterations = 5).use { r =>
      toLocal(r.orderBy(col("rank_scaled").desc, col("node").asc).limit(100))
    }
  }


  /** BPE encode ([[Bpe.segment]]): the vocabulary segmented under the
    * first 12 learned merges — tokenizer training AND application as
    * engine operations. The merge table is a k-bounded driver pull
    * (numMerges rows, like the IVF centroids); segmentation itself is
    * `numMerges` literal replaces over the vocab table.
    */
  def qExtBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val merges = Bpe.learnMerges(docs, "text", numMerges = 12)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Bpe.segment(Bpe.wordCounts(docs, "text"), "word", merges)
      .select(col("word"), array_join(col("segments"), " ").as("segments"),
        col("n_segments").cast("long").as("n_segments"), col("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(200)
  }


  /** TrustRank ([[PageRank.trustRank]], 5 iterations) over the same
    * manufactured graph as [[qExtPagerank]] with seeds doc_id % 50 == 0 —
    * quality propagation from a trusted 2% of the corpus. Same
    * exact-integer iteration; teleport and dangling mass return only to
    * seeds.
    */
  def qExtTrustrank(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 3 + 1) % n,
          (col("doc_id") * 5 + 2) % n,
          (col("doc_id") * 7 + 3) % n)).as("dst"))
      .distinct()
    val seeds = docs.filter(col("doc_id") % 50 === 0).select("doc_id")
    PageRank.trustRankManaged(edges, "src", "dst", seeds, "doc_id",
        iterations = 5).use { r =>
      toLocal(r.orderBy(col("rank_scaled").desc, col("node").asc).limit(100))
    }
  }


  /** TextRank keywords ([[TextRank.keywords]]): PageRank over the
    * symmetric adjacent-token graph — vocab ids × bigram edges ×
    * integer power iteration, oracle-checked END TO END (the entire
    * three-operator composition reproduces bit-for-bit in SQL).
    */
  def qExtTextrank(spark: SparkSession, dir: String): DataFrame =
    TextRank.keywordsManaged(t(spark, dir, "documents"), "doc_id", "text",
      iterations = 5, topN = 50).use(toLocal)


  /** HITS ([[Hits.hits]], 3 rounds) over the [[qExtPagerank]] graph:
    * hub/authority scores with the deterministic-IEEE L1 normalization —
    * quantized scores identical cross-engine without 128-bit arithmetic.
    */
  def qExtHits(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 3 + 1) % n,
          (col("doc_id") * 5 + 2) % n,
          (col("doc_id") * 7 + 3) % n)).as("dst"))
      .distinct()
    Hits.hitsManaged(edges, "src", "dst", iterations = 3).use { r =>
      toLocal(r.orderBy(col("auth_scaled").desc, col("node").asc).limit(100))
    }
  }


  /** BM25 CTE chain shared by the standalone and hybrid oracles: stats
    * (N, avgdl as the same sum::DOUBLE / count division the engine
    * performs), postings for [[bm25Terms]], per-term df, per-posting
    * scores, fixed-order per-doc sum, top-`topN` cut. Produces a CTE
    * named `bm25` with (doc_id, n_terms, score).
    */
  private def bm25Ctes(topN: Int): String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
    val fixedSum = bm25Terms.map(t =>
      s"coalesce(sum(CASE WHEN token = '$t' THEN s END), 0.0::DOUBLE)")
      .mkString("\n         + ")
    s"""stats AS (
       |  SELECT count(*)::BIGINT AS n,
       |         sum(len(string_split($normSql, ' ')))::DOUBLE / count(*) AS avgdl
       |  FROM documents
       |), toks AS (
       |  SELECT doc_id, len(string_split($normSql, ' ')) AS dl,
       |         unnest(string_split($normSql, ' ')) AS token
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, dl, token, count(*)::BIGINT AS tf
       |  FROM toks WHERE token IN ($termList)
       |  GROUP BY doc_id, dl, token
       |), dfreq AS (
       |  SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY token
       |), scored AS (
       |  SELECT tf.doc_id, tf.token,
       |         (((SELECT n FROM stats) - dfreq.df + (0.5::DOUBLE))
       |            / (dfreq.df + (0.5::DOUBLE)) + (1.0::DOUBLE))
       |         * ((tf.tf * ((1.2::DOUBLE) + (1.0::DOUBLE)))
       |            / (tf.tf + (1.2::DOUBLE)
       |               * ((1.0::DOUBLE) - (0.75::DOUBLE)
       |                  + (0.75::DOUBLE) * (tf.dl / (SELECT avgdl FROM stats)))))
       |           AS s
       |  FROM tf JOIN dfreq ON tf.token = dfreq.token
       |), agg AS (
       |  SELECT doc_id,
       |         $fixedSum AS raw,
       |         count(*)::BIGINT AS n_terms
       |  FROM scored GROUP BY doc_id
       |), bm25 AS (
       |  SELECT doc_id, n_terms, round(raw, 6) AS score FROM agg
       |  ORDER BY score DESC, doc_id LIMIT $topN
       |)""".stripMargin
  }


  /** BPE-merge oracle: CTE chain with one (pairs, best, rewrite) level
    * per iteration. w0 is the char-split word table; p_i aggregates
    * adjacent pairs, b_i is the deterministic argmax, w_{i+1} the
    * rewrite; the result unions the b_i rows in rank order.
    */
  private def bpeOracleSql(numMerges: Int): String = {
    // working form mirrors Bpe: single boundary separators, double
    // interior ones — "SEP sym (SEP SEP sym)* SEP"
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""w0 AS MATERIALIZED (
         |  SELECT chr(1) || array_to_string(regexp_extract_all(word, '.'),
         |                                   chr(1) || chr(1)) || chr(1) AS sym,
         |         count(*)::BIGINT AS cnt
         |  FROM (SELECT unnest(string_split($normSql, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY word)""".stripMargin)
    (0 until numMerges).foreach { i =>
      ctes += s"""p$i AS MATERIALIZED (
         |  SELECT (u).a AS pa, (u).b AS pb, sum(cnt)::BIGINT AS n FROM (
         |    SELECT unnest(list_transform(range(1, len(ss)),
         |                  j -> {'a': ss[j], 'b': ss[j + 1]})) AS u, cnt
         |    FROM (SELECT list_filter(string_split(sym, chr(1)), x -> x <> '') AS ss,
         |                 cnt
         |          FROM w$i)
         |  ) GROUP BY pa, pb)""".stripMargin
      ctes += s"b$i AS MATERIALIZED (SELECT pa, pb, n FROM p$i ORDER BY n DESC, pa ASC, pb ASC LIMIT 1)"
      ctes += s"""w${i + 1} AS MATERIALIZED (
         |  SELECT replace(sym,
         |           chr(1) || (SELECT pa FROM b$i) || chr(1) || chr(1)
         |             || (SELECT pb FROM b$i) || chr(1),
         |           chr(1) || (SELECT pa || pb FROM b$i) || chr(1)) AS sym, cnt
         |  FROM w$i)""".stripMargin
    }
    val rows = (0 until numMerges).map(i =>
      s"SELECT $i + 1 AS merge_rank, pa AS pair_a, pb AS pair_b, n AS pair_count FROM b$i")
      .mkString(" UNION ALL ")
    "WITH " + ctes.mkString(",\n") + "\n" + rows + " ORDER BY merge_rank"
  }


  /** BPE-encode oracle: the [[bpeOracleSql]] chain's FINAL working table
    * w_numMerges IS the vocabulary segmented under the learned merges —
    * strip separators to recover the word, split on them for the
    * segments.
    */
  private def bpeEncodeOracleSql(numMerges: Int, topN: Int): String = {
    val chain = bpeOracleSql(numMerges)
    val ctes = chain.substring("WITH ".length, chain.indexOf(
      "\nSELECT 0 + 1 AS merge_rank"))
    // NB: `ctes` contains continuation lines starting with `||` — it must
    // stay OUTSIDE any stripMargin literal (the margin strip would eat
    // the first pipe of a leading `||`)
    val tail =
      s"""seg AS (
         |  SELECT replace(sym, chr(1), '') AS word,
         |         list_filter(string_split(sym, chr(1)), x -> x <> '') AS ss,
         |         cnt
         |  FROM w$numMerges)
         |SELECT word, array_to_string(ss, ' ') AS segments,
         |       len(ss)::BIGINT AS n_segments, cnt
         |FROM seg ORDER BY cnt DESC, word ASC LIMIT $topN""".stripMargin
    s"WITH $ctes,\n" + tail
  }


  /** PageRank oracle: the same manufactured 3-regular graph and the same
    * scaled-integer power iteration as [[qExtPagerank]], one
    * (c_i, d_i, r_i) CTE level per iteration. Teleport/damping mirror
    * [[PageRank.pageRank]]'s defaults (85/100, Scale 1e12).
    */
  private def pagerankOracleSql(iterations: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      """e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src,
        |           unnest([(doc_id * 3 + 1) % nc.c, (doc_id * 5 + 2) % nc.c,
        |                   (doc_id * 7 + 3) % nc.c]) AS dst
        |    FROM documents, (SELECT count(*) AS c FROM documents) nc))""".stripMargin,
      """nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""".stripMargin,
      "nn AS (SELECT count(*) AS c FROM nodes)",
      "od AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY src)",
      """r0 AS MATERIALIZED (SELECT node,
        |  (SELECT 1000000000000 // c FROM nn) AS rank FROM nodes)""".stripMargin)
    (0 until iterations).foreach { i =>
      // ::BIGINT on every sum: DuckDB sums BIGINT into HUGEINT, which
      // pandas renders as float64 and the stringified compare rejects
      ctes += s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank // od.od)::BIGINT AS contrib
         |  FROM e JOIN r$i r ON e.src = r.node JOIN od ON e.src = od.src
         |  GROUP BY e.dst)""".stripMargin
      ctes += s"""d$i AS (
         |  SELECT coalesce(sum(r.rank), 0)::BIGINT AS ds FROM r$i r
         |  LEFT JOIN od ON r.node = od.src WHERE od.src IS NULL)""".stripMargin
      ctes += s"""r${i + 1} AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (SELECT 15 * 1000000000000 // 100 // c FROM nn)
         |      + 85 * (coalesce(c$i.contrib, 0)
         |              + (SELECT ds FROM d$i) // (SELECT c FROM nn)) // 100 AS rank
         |  FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT node, rank AS rank_scaled FROM r$iterations " +
      "ORDER BY rank_scaled DESC, node ASC LIMIT 100"
  }


  /** TrustRank oracle: [[pagerankOracleSql]]'s graph with the seed-flag
    * variant — teleport/dangling land only on seeds (node % 50 == 0),
    * divisor |S|.
    */
  private def trustrankOracleSql(iterations: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      """e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src,
        |           unnest([(doc_id * 3 + 1) % nc.c, (doc_id * 5 + 2) % nc.c,
        |                   (doc_id * 7 + 3) % nc.c]) AS dst
        |    FROM documents, (SELECT count(*) AS c FROM documents) nc))""".stripMargin,
      """nodes AS MATERIALIZED (SELECT DISTINCT node, node % 50 = 0 AS is_seed
        |  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""".stripMargin,
      "nn AS (SELECT count(*) AS c FROM nodes WHERE is_seed)",
      "od AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY src)",
      """r0 AS MATERIALIZED (SELECT node, is_seed,
        |  CASE WHEN is_seed THEN (SELECT 1000000000000 // c FROM nn)
        |       ELSE 0 END AS rank FROM nodes)""".stripMargin)
    (0 until iterations).foreach { i =>
      ctes += s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank // od.od)::BIGINT AS contrib
         |  FROM e JOIN r$i r ON e.src = r.node JOIN od ON e.src = od.src
         |  GROUP BY e.dst)""".stripMargin
      ctes += s"""d$i AS (
         |  SELECT coalesce(sum(r.rank), 0)::BIGINT AS ds FROM r$i r
         |  LEFT JOIN od ON r.node = od.src WHERE od.src IS NULL)""".stripMargin
      ctes += s"""r${i + 1} AS MATERIALIZED (
         |  SELECT nodes.node, nodes.is_seed,
         |    (CASE WHEN nodes.is_seed
         |          THEN (SELECT 15 * 1000000000000 // 100 // c FROM nn)
         |          ELSE 0 END)
         |      + 85 * (coalesce(c$i.contrib, 0)
         |              + (CASE WHEN nodes.is_seed
         |                      THEN (SELECT ds FROM d$i) // (SELECT c FROM nn)
         |                      ELSE 0 END)) // 100 AS rank
         |  FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT node, rank AS rank_scaled FROM r$iterations " +
      "ORDER BY rank_scaled DESC, node ASC LIMIT 100"
  }


  /** TextRank oracle: vocab ids (tf desc, token asc, 0-based) +
    * symmetrized distinct adjacent-token edges + the [[pagerankOracleSql]]
    * iteration body + the token join-back. Vocab keeps unfiltered tokens
    * (matching [[TextStats.vocabulary]]); the bigram stream filters
    * empties (matching [[NgramLm.docBigrams]]).
    */
  private def textrankOracleSql(iterations: Int, topN: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"""toks AS MATERIALIZED (
         |  SELECT list_filter(string_split($normSql, ' '),
         |                     x -> x <> '') AS ts
         |  FROM documents)""".stripMargin,
      s"""vocab AS (
         |  SELECT tok AS token, count(*)::BIGINT AS tf
         |  FROM (SELECT unnest(string_split($normSql, ' ')) AS tok
         |        FROM documents)
         |  GROUP BY tok)""".stripMargin,
      """ids AS MATERIALIZED (
        |  SELECT token,
        |         row_number() OVER (ORDER BY tf DESC, token ASC) - 1 AS token_id
        |  FROM vocab)""".stripMargin,
      """big AS (
        |  SELECT DISTINCT (u).a AS w1, (u).b AS w2 FROM (
        |    SELECT unnest(list_transform(range(1, len(ts)),
        |                  j -> {'a': ts[j], 'b': ts[j + 1]})) AS u
        |    FROM toks))""".stripMargin,
      """dir AS (
        |  SELECT i1.token_id AS src, i2.token_id AS dst
        |  FROM big JOIN ids i1 ON big.w1 = i1.token
        |           JOIN ids i2 ON big.w2 = i2.token)""".stripMargin,
      """e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM dir
        |    UNION ALL SELECT dst AS src, src AS dst FROM dir))""".stripMargin,
      """nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""".stripMargin,
      "nn AS (SELECT count(*) AS c FROM nodes)",
      "od AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY src)",
      """r0 AS MATERIALIZED (SELECT node,
        |  (SELECT 1000000000000 // c FROM nn) AS rank FROM nodes)""".stripMargin)
    (0 until iterations).foreach { i =>
      ctes += s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.rank // od.od)::BIGINT AS contrib
         |  FROM e JOIN r$i r ON e.src = r.node JOIN od ON e.src = od.src
         |  GROUP BY e.dst)""".stripMargin
      ctes += s"""d$i AS (
         |  SELECT coalesce(sum(r.rank), 0)::BIGINT AS ds FROM r$i r
         |  LEFT JOIN od ON r.node = od.src WHERE od.src IS NULL)""".stripMargin
      ctes += s"""r${i + 1} AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (SELECT 15 * 1000000000000 // 100 // c FROM nn)
         |      + 85 * (coalesce(c$i.contrib, 0)
         |              + (SELECT ds FROM d$i) // (SELECT c FROM nn)) // 100 AS rank
         |  FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT ids.token, r.rank AS rank_scaled FROM r$iterations r " +
      "JOIN ids ON r.node = ids.token_id " +
      s"ORDER BY rank_scaled DESC, token ASC LIMIT $topN"
  }


  /** HITS oracle: the same manufactured graph as [[pagerankOracleSql]],
    * one (raw-auth, total, auth, raw-hub, total, hub) CTE level per
    * round, L1-normalized via the deterministic DOUBLE floor.
    */
  private def hitsOracleSql(iterations: Int, topN: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer(
      """e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src,
        |           unnest([(doc_id * 3 + 1) % nc.c, (doc_id * 5 + 2) % nc.c,
        |                   (doc_id * 7 + 3) % nc.c]) AS dst
        |    FROM documents, (SELECT count(*) AS c FROM documents) nc))""".stripMargin,
      """nodes AS MATERIALIZED (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""".stripMargin,
      "nn AS (SELECT count(*) AS c FROM nodes)",
      """h0 AS MATERIALIZED (SELECT node,
        |  (SELECT 1000000000000 // c FROM nn) AS h FROM nodes)""".stripMargin)
    def norm(raw: String, tot: String): String =
      s"CASE WHEN (SELECT t FROM $tot) > 0 THEN " +
        s"floor($raw::DOUBLE * 1000000000000 / (SELECT t FROM $tot))::BIGINT " +
        "ELSE 0 END"
    (1 to iterations).foreach { i =>
      ctes += s"""ra$i AS (
         |  SELECT nodes.node, coalesce(s.v, 0)::BIGINT AS raw
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, sum(h.h)::BIGINT AS v
         |    FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst) s
         |  ON nodes.node = s.node)""".stripMargin
      ctes += s"ta$i AS (SELECT sum(raw)::BIGINT AS t FROM ra$i)"
      ctes += s"""a$i AS MATERIALIZED (
         |  SELECT node, ${norm("raw", s"ta$i")} AS a FROM ra$i)""".stripMargin
      ctes += s"""rh$i AS (
         |  SELECT nodes.node, coalesce(s.v, 0)::BIGINT AS raw
         |  FROM nodes LEFT JOIN (
         |    SELECT e.src AS node, sum(a.a)::BIGINT AS v
         |    FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src) s
         |  ON nodes.node = s.node)""".stripMargin
      ctes += s"th$i AS (SELECT sum(raw)::BIGINT AS t FROM rh$i)"
      ctes += s"""h$i AS MATERIALIZED (
         |  SELECT node, ${norm("raw", s"th$i")} AS h FROM rh$i)""".stripMargin
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT h.node, h.h AS hub_scaled, a.a AS auth_scaled " +
      s"FROM h$iterations h JOIN a$iterations a ON h.node = a.node " +
      s"ORDER BY auth_scaled DESC, h.node ASC LIMIT $topN"
  }


  /** Standalone BM25 oracle built from [[bm25Ctes]]. */
  private def bm25OracleSql(topN: Int): String =
    s"""WITH ${bm25Ctes(topN)}
       |SELECT doc_id, n_terms, score FROM bm25
       |ORDER BY score DESC, doc_id""".stripMargin

  private[queries] lazy val rankTierQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ext_bm25_topk" -> (qExtBm25Topk _),
    "q_ext_hybrid_rrf" -> (qExtHybridRrf _),
    "q_ext_topk_per_group" -> (qExtTopkPerGroup _),
    "q_ext_bm25_indexed" -> (qExtBm25Indexed _),
    "q_ext_bpe_merges" -> (qExtBpeMerges _),
    "q_ext_pagerank" -> (qExtPagerank _),
    "q_ext_bpe_encode" -> (qExtBpeEncode _),
    "q_ext_trustrank" -> (qExtTrustrank _),
    "q_ext_textrank" -> (qExtTextrank _),
    "q_ext_hits" -> (qExtHits _),
  )

  private[queries] lazy val rankTierOracles: Map[String, String] = Map(
    "q_ext_bm25_topk" -> bm25OracleSql(topN = 20),

    // identical computation served from the stored inverted index —
    // same ground truth
    "q_ext_bm25_indexed" -> bm25OracleSql(topN = 20),

    // Same class literals and fixed-order argmax as TextStats.scriptRanges
    // / dominantScript; counts are length minus stripped length.
    "q_ext_bpe_merges" -> bpeOracleSql(numMerges = 12),

    // The same generated chain's FINAL working table, read back as
    // (word, segments): training and encoding share one ground truth.
    "q_ext_bpe_encode" -> bpeEncodeOracleSql(numMerges = 12, topN = 200),

    // Generated CTE chain, one (contrib, dangling, rank) level per power
    // iteration; all-integer floor-div arithmetic (`//` == Spark `div` on
    // non-negatives) so the ranks match bit-for-bit.
    "q_ext_pagerank" -> pagerankOracleSql(iterations = 5),

    // Seeded variant of the same chain: teleport and dangling mass land
    // only on is_seed nodes, divisor |S| instead of |V|.
    "q_ext_trustrank" -> trustrankOracleSql(iterations = 5),

    // The full three-operator composition in SQL: rank-ordered vocab ids,
    // symmetrized distinct bigram edges, the integer iteration chain,
    // join back to tokens.
    "q_ext_textrank" -> textrankOracleSql(iterations = 5, topN = 50),

    // Hub/authority half-steps with the same floor(raw·1e12/total)
    // DOUBLE normalization — every factor an exact integer, every IEEE
    // op correctly rounded, so the quantized scores match bit-for-bit.
    "q_ext_hits" -> hitsOracleSql(iterations = 3, topN = 100),

    // One distinct-count per source over the same boilerplate fixture;
    // the rate is one exact-integer IEEE division per source.
    "q_ext_hybrid_rrf" ->
      s"""WITH ${bm25Ctes(topN = 50)},
         |sparse AS (
         |  SELECT doc_id,
         |         row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |           AS rank_sparse
         |  FROM bm25
         |), v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |dscored AS (
         |  SELECT c.vec_id AS doc_id,
         |         round(CASE WHEN sqrt(list_dot_product(q.emb, q.emb))
         |                         * sqrt(list_dot_product(c.emb, c.emb)) = 0 THEN 0
         |               ELSE list_dot_product(q.emb, c.emb)
         |                    / (sqrt(list_dot_product(q.emb, q.emb))
         |                       * sqrt(list_dot_product(c.emb, c.emb))) END, 6) AS score
         |  FROM v q, v c WHERE q.vec_id = 0 AND q.vec_id <> c.vec_id
         |), dense AS (
         |  SELECT doc_id, rank_dense FROM (
         |    SELECT doc_id,
         |           row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |             AS rank_dense
         |    FROM dscored)
         |  WHERE rank_dense <= 50
         |)
         |SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
         |       s.rank_sparse, d.rank_dense,
         |       round(coalesce((1.0::DOUBLE) / (60 + s.rank_sparse), 0.0::DOUBLE)
         |             + coalesce((1.0::DOUBLE) / (60 + d.rank_dense), 0.0::DOUBLE),
         |             9) AS rrf
         |FROM sparse s FULL JOIN dense d ON s.doc_id = d.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    // The window form the heap aggregate replaces — identical answer
    // because (n_chars desc, doc_id asc) is a total order.
    "q_ext_topk_per_group" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY n_chars DESC, doc_id ASC)
        |              AS INTEGER) AS rank
        |  FROM documents
        |)
        |SELECT source, rank, doc_id, n_chars FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin,

    // Nearest-rank (ceil) quantiles per source — the sketch runs in its
    // exact regime at verify SF (capacity >= every group), so this is a
    // true oracle. ceil(p * n) is forced to DOUBLE multiplication to
    // match the engine's math.ceil(p * total) IEEE arithmetic.
  )
}
