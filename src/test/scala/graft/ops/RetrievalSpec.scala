package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Retrieval]]: BM25 scoring against a from-first-principles
  * recomputation, plus the RRF fusion algebra (missing legs, tie
  * ordering, union+groupBy == outer-join semantics).
  */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "apple apple apple apple"),
    (3L, "banana cherry date elderberry fig grape"),
    (4L, "date elderberry"),
    (5L, "apple banana")).toDF("doc_id", "text")

  "bm25" should "match a direct per-doc recomputation" in {
    val terms = Seq("apple", "banana")
    val k1 = 1.2; val b = 0.75
    val got = Retrieval.bm25(docs, "doc_id", "text", terms, topN = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // hand recomputation with the same rational idf and term order
    val corpus = Map(
      1L -> Seq("apple", "banana", "apple", "cherry"),
      2L -> Seq("apple", "apple", "apple", "apple"),
      3L -> Seq("banana", "cherry", "date", "elderberry", "fig", "grape"),
      4L -> Seq("date", "elderberry"),
      5L -> Seq("apple", "banana"))
    val n = corpus.size
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def score(id: Long): (Long, Double) = {
      val toks = corpus(id)
      val dl = toks.size
      var nTerms = 0L
      val s = terms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) 0.0
        else {
          nTerms += 1
          val df = corpus.values.count(_.contains(t))
          val idf = (n.toLong - df + 0.5) / (df + 0.5) + 1.0
          idf * ((tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl / avgdl))))
        }
      }.reduceLeft(_ + _)
      (nTerms, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    got shouldBe Map(1L -> score(1L), 2L -> score(2L), 3L -> score(3L),
      5L -> score(5L))
  }

  it should "rank a doc with a rare term above one stuffed with a common term" in {
    // 'banana' (df 3) discriminates more than 'apple' (df 3)... use fig (df 1)
    val r = Retrieval.bm25(docs, "doc_id", "text", Seq("fig"), topN = 10)
      .collect()
    r.map(_.getLong(0)).toSeq shouldBe Seq(3L)
  }

  it should "cut top-N deterministically by (score desc, id asc)" in {
    val ties = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val r = Retrieval.bm25(ties, "doc_id", "text", Seq("x"), topN = 2)
      .collect().map(_.getLong(0)).toSeq
    r shouldBe Seq(1L, 2L) // equal scores -> id ascending wins the cut
  }

  "bm25FromIndex" should "equal the direct form over the same corpus" in {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    Retrieval.buildIndex(docs, "doc_id", "text", dir)
    val terms = Seq("apple", "banana")
    val direct = Retrieval.bm25(docs, "doc_id", "text", terms, topN = 10)
      .collect().map(_.toSeq).toSeq
    val indexed = Retrieval.bm25FromIndex(spark, dir, "doc_id", terms, topN = 10)
      .collect().map(_.toSeq).toSeq
    indexed shouldBe direct
  }

  "rrfFuse" should "sum reciprocal ranks with missing legs as zero" in {
    val a = Seq((10L, 1), (11L, 2)).toDF("id", "rank_a")
    val b = Seq((11L, 1), (12L, 2)).toDF("id", "rank_b")
    val got = Retrieval.rrfFuse(a, b, "id", topN = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    def rr(r: Int) = 1.0 / (60 + r)
    def rnd(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    got shouldBe Map(
      11L -> rnd(rr(2) + rr(1)),
      10L -> rnd(rr(1) + 0.0),
      12L -> rnd(0.0 + rr(2)))
  }

  it should "plan no sort-merge join (union+groupBy, not full outer)" in {
    val a = Seq((10L, 1)).toDF("id", "rank_a")
    val b = Seq((11L, 1)).toDF("id", "rank_b")
    val plan = Retrieval.rrfFuse(a, b, "id", topN = 10)
      .queryExecution.executedPlan.toString
    plan should not include "SortMergeJoin"
  }

  "ranked" should "attach 1-based ranks by (score desc, id asc)" in {
    val topped = Seq((3L, 0.5), (1L, 0.9), (2L, 0.5)).toDF("id", "score")
    val out = Retrieval.ranked(topped, "id", "rank")
      .select("id", "rank").as[(Long, Int)].collect().toSeq
    out shouldBe Seq((1L, 1), (2L, 2), (3L, 3)) // tie 2-vs-3 breaks by id
  }

  it should "fail loudly past the enforced maxRows bound, not collect it" in {
    // round-16 ADVICE: the <= N contract is enforced via limit(maxRows+1),
    // so an untopped frame can never be fully materialized on the driver
    val untopped = spark.range(0, 100)
      .select(col("id"), (col("id") % 7).cast("double").as("score"))
    val e = the[IllegalArgumentException] thrownBy
      Retrieval.ranked(untopped, "id", "rank", maxRows = 50)
    e.getMessage should include("maxRows")
    // at the bound it still works
    Retrieval.ranked(untopped.limit(50), "id", "rank", maxRows = 50)
      .count() shouldBe 50L
  }

  "bm25 lifecycle" should "leave neither cache pins nor checkpoint blocks behind" in {
    // round-11: the postings pin releases after the k-bounded result is
    // collected into a LocalRelation — repeated calls in a long-lived
    // session must not grow the persistent-RDD map (the earlier
    // localCheckpoint draft leaked one block set per call)
    val docs = Seq((1L, "spark merge alpha"), (2L, "spark beta"),
      (3L, "merge gamma")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (1 to 3).foreach { _ =>
      Retrieval.bm25(docs, "doc_id", "text", Seq("spark", "merge"),
        topN = 5).collect()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet
      .diff(before)
    withClue(s"leaked persistent RDDs $leaked: ") { leaked shouldBe empty }
  }

  it should "rethrow a failed stats leg and still release the postings pin" in {
    // every row raises, so the concurrent corpus-stats job fails (the
    // postings fill reads the same column and fails with it); the error
    // must surface from the call and the pin taken before both jobs must
    // be gone afterwards
    val docs = Seq((1L, "spark merge alpha"), (2L, "spark beta"))
      .toDF("doc_id", "text")
      .withColumn("text", when(col("doc_id") > 0,
        raise_error(lit("injected stats failure"))).otherwise(col("text")))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[Exception] {
      Retrieval.bm25(docs, "doc_id", "text", Seq("spark"), topN = 5)
    }
    e.getMessage should include("injected stats failure")
    spark.sparkContext.getPersistentRDDs.keySet.toSet shouldBe before
  }
}
