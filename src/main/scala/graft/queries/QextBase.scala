package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{Memo, Sources}
import graft.ops._




/** Shared plumbing of the extension-query tiers: table reader, the
  * LocalRelation materializer, the shared fixed quantizer, and the
  * cross-tier SQL fragments. Split from the monolithic Qext.scala
  * (round-17 verdict item 7); every member is verbatim, widened to
  * `private[queries]` so the tier traits can reach it.
  */
private[queries] trait QextBase {


  private[queries] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.table(spark, dir, name)


  /** Materialize a k-bounded result into a LocalRelation (collect +
    * createDataFrame): self-contained, GC-managed, zero block-manager
    * footprint — the [[graft.ops.Retrieval]] BM25 pattern. The registry
    * contract hands the harness a LAZY frame it materializes later, so a
    * graph query must collect its ≤100-row result BEFORE releasing the
    * [[graft.ops.Managed]] pins/checkpoint blocks backing it; wrappers
    * that skipped this held ~5 graph tiers' blocks to session teardown
    * (round-12 driver run: graph tier +31% on identical code vs +12%
    * ambient).
    */
  private[queries] def toLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)


  private[queries] val normSql =
    "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


  /** Inline cosine (DuckDB has no macro inside a single statement):
    * mirrors VectorCosine — 0 when either norm is 0.
    */
  private[queries] def cosSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_dot_product($a, $a))
       |          * sqrt(list_dot_product($b, $b)) = 0 THEN 0
       |     ELSE list_dot_product($a, $b)
       |          / (sqrt(list_dot_product($a, $a))
       |             * sqrt(list_dot_product($b, $b))) END""".stripMargin

  /** The fixed-centroid IVF model (vec_ids 0, 31, …, 465) of an
    * embeddings frame, memoized on its plan — shared by the Sim tier's
    * IVF/PQ queries AND the Dedup tier's semantic dedup (both block on the
    * same fixed quantizer), hence base, not Sim.
    */
  private[queries] def fixedIvf(e: DataFrame): Ivf.Model =
    Memo.plan(e, "ivf.fixed")(
      Ivf.fixedModel(e, "vec_id", "embedding", (0 until 16).map(_ * 31L)))
}
