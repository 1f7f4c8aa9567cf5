package graft.io

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Qext

/** [[Memo]]: hits are shared by equal plans and validated against the
  * files under them, so a rewritten input is recomputed, never served
  * stale; a failed compute leaves nothing behind.
  */
class MemoSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A `documents` + `embeddings` pair in the registry's shape; `seed`
    * picks the rows, so two seeds give two different tables.
    */
  private def writeTables(dir: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    (0 until 40).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat()), i % 3))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    (0 until 30).map { i =>
      // every third doc repeats its predecessor's text; which ones
      // depends on the seed, so the duplicate pairs move with it
      val base = if (i > 0 && (i + seed) % 3 == 0) i - 1 else i
      val r = new scala.util.Random(seed * 1000 + base)
      (i.toLong, Seq.fill(12)(words(r.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  "the session memo" should "recompute table, store and model results after their inputs are rewritten" in {
    val dir = Files.createTempDirectory("graft-memo-stale-").toString
    val results: Seq[(String, SparkSession => Seq[String])] = Seq(
      "Sources.table" -> (s => rows(Sources.table(s, dir, "documents"))),
      "q_ext_dedup_minhash" -> (s => rows(Qext.qExtDedupMinhash(s, dir))),
      "q_ext_sim_ivf" -> (s => rows(Qext.qExtSimIvf(s, dir))))
    writeTables(dir, seed = 1)
    val first = results.map { case (n, f) => n -> f(spark) }
    writeTables(dir, seed = 2)
    val second = results.map { case (n, f) => n -> f(spark) }
    // a new session starts with an empty memo: a fresh computation
    val fresh = results.map { case (n, f) => n -> f(spark.newSession()) }
    results.indices.foreach { i =>
      val name = results(i)._1
      withClue(s"$name after the rewrite: ") {
        second(i)._2 shouldBe fresh(i)._2
        second(i)._2 should not be first(i)._2 // the rewrite is visible
      }
    }
  }

  it should "share one entry between equal plans and hit until the files change" in {
    val path = Files.createTempDirectory("graft-memo-hit-").toString + "/t.parquet"
    Seq(1L, 2L, 3L).toDF("a").write.parquet(path)
    var computed = 0
    def derived = spark.read.parquet(path).select((col("a") + 1).as("b"))
    def resolve(df: DataFrame): Long = Memo.plan(df, "spec.sum") {
      computed += 1
      df.agg(sum("b")).head().getLong(0)
    }
    resolve(derived) shouldBe 9L
    resolve(derived) shouldBe 9L // a separately built, equal plan
    computed shouldBe 1
    Sources.pathTable(spark, path) should be theSameInstanceAs
      Sources.pathTable(spark, path)
    Seq(10L).toDF("a").write.mode("append").parquet(path)
    resolve(derived) shouldBe 20L
    computed shouldBe 2
  }

  it should "retry a failed compute and allow nested lookups" in {
    var attempts = 0
    def flaky: Int = Memo.files(spark, "spec.flaky", "/nonexistent") {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("first attempt fails")
      // a compute may consult the memo for another key
      Memo.files(spark, "spec.inner", "/nonexistent")(attempts * 10)
    }
    an[IllegalStateException] should be thrownBy flaky
    flaky shouldBe 20
    flaky shouldBe 20
    attempts shouldBe 2
  }
}
