package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Spec-locked cache-lifecycle inventory: EVERY `.persist(` / `.cache()`
  * call site in non-probe main source must appear in the whitelist below
  * with a lifecycle classification, and each classification carries a
  * structural invariant the file must satisfy. Adding a pin anywhere —
  * new file or new site in a known file — fails this spec until the author
  * classifies it here, making an unmanaged session-lifetime pin (the
  * round-12 graph-tier regression) impossible to land silently.
  *
  * Classifications:
  *  - `managed`  — the pin lives inside a builder returning a [[Managed]]
  *    release handle (file must construct `new Managed(`).
  *  - `released` — the operator unpersists in-body (finally block or
  *    generation retirement; file must call `unpersist`).
  *  - `serving`  — a deliberately long-lived served-index pin with an
  *    explicit swap/release path (file must call `unpersist`).
  *  - `runScoped` — a driver-boundary pipeline program whose cache dies
  *    with the run's JVM (file must live under `pipelines/`).
  *  - `helper` — the shared conditional-persist gate
  *    ([[Managed.ensurePersisted]]): persists only when the plan is not
  *    already cached; the pin's lifecycle belongs to the CALLING site.
  *
  * `tools/` is excluded: dev harnesses are one-shot mains, not library
  * surface. RegistryLifecycleSpec asserts the RUNTIME half — the
  * persistent-RDD map returns to baseline after each registry query.
  *
  * The memo-site scan does the same for cross-call state: every memo lives
  * in [[graft.io.Memo]] (session-scoped, input-validated), so a concurrent
  * or weak map declared anywhere else under src/main/scala must be
  * allow-listed below with the reason it is not a memo.
  */
class PersistInventorySpec extends AnyFlatSpec with Matchers {

  private val Managed = "managed"
  private val Released = "released"
  private val Serving = "serving"
  private val RunScoped = "runScoped"
  private val Helper = "helper"

  /** file (relative to src/main/scala/graft) -> (pin-site count, class). */
  private val whitelist: Map[String, (Int, String)] = Map(
    "ops/Bpe.scala" -> (2, Released), // distributed merge-loop generations
    "ops/Hits.scala" -> (4, Managed), // hitsManaged: graph frames + iterates
    "ops/PageRank.scala" -> (5, Managed), // pageRank/trustRankManaged
    "ops/Profiler.scala" -> (1, Released), // rank-select scratch, read twice
    // overlapStatsWithPostings pins the postings frame once and frees it
    // in a finally, after the top-N collect or any failure.
    "ops/Retrieval.scala" -> (1, Released), // BM25 tf table, freed post-topN
    // round 15: the warm-path pins (Sampling prefix-sum scratch, SemDedup
    // assignment, SpanDedup occurrences, TextDedup ppjoin/simhash
    // signatures) route through Managed.ensurePersisted — persist only
    // when the plan is not already cached, so a re-invocation ALIASES
    // silently instead of logging the CacheManager re-persist WARN
    // (CacheAliasingSpec locks the benignity). Their lifecycle class is
    // unchanged (managed handles still release them).
    "ops/Managed.scala" -> (1, Helper), // ensurePersisted, the shared gate
    "ops/Similarity.scala" -> (1, Managed), // LSH signature table
    "ops/TextDedup.scala" -> (2, Managed), // minhash prepare + increment delta
    "ops/TextRank.scala" -> (2, Managed), // keywordsManaged: ids + edges
    "pipelines/CorpusPrepStream.scala" -> (1, Released), // per-batch transient
    "pipelines/CorpusStore.scala" -> (1, Serving), // served index, swap frees
    "pipelines/Cpa.scala" -> (1, RunScoped), // validate-mode union reuse
    // (round 14: Runner's one-run catalog cache left with the Storage-trait
    // refactor — the listing is a driver-side Seq now, nothing to pin)
    "streaming/LshStream.scala" -> (2, Serving) // served LSH index, swap frees
  )

  private val root = Paths.get("src/main/scala/graft")
  private val pinSite = raw"(\.persist\(|\.cache\(\))".r

  private def allSources: Vector[java.nio.file.Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally s.close()
  }

  private def sources: Seq[java.nio.file.Path] =
    allSources.filterNot(p => root.relativize(p).toString.startsWith("tools/"))

  /** Source lines minus comment lines: comments legitimately DISCUSS
    * persisting and memo maps; only code counts.
    */
  private def codeLines(p: java.nio.file.Path): Vector[String] =
    Files.readAllLines(p).asScala.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
      .toVector

  private def pinCount(p: java.nio.file.Path): Int =
    codeLines(p).map(l => pinSite.findAllIn(l).size).sum

  /** file (relative to src/main/scala/graft) -> why its map is not a memo. */
  private val mapAllowList: Map[String, String] = Map(
    "io/Storage.scala" -> ("InMemory.staged: one adapter instance's " +
      "fetch-once staging of its own immutable bytes; dies with the instance")
  )

  private val decl = raw"\bva[lr]\s+\w+".r
  private val mapType = raw"\b(ConcurrentHashMap|TrieMap|WeakHashMap)\b".r

  /** `val`/`var` declarations of a map type in one file; an initializer
    * that starts on the next line (`val m =` + `new ...`) is joined first.
    */
  private def mapDecls(p: java.nio.file.Path): Int = {
    val ls = codeLines(p)
    ls.indices.count { i =>
      val stmt = if (ls(i).endsWith("=")) ls(i) + " " + ls.lift(i + 1).getOrElse("")
                 else ls(i)
      decl.findFirstIn(ls(i)).isDefined && mapType.findFirstIn(stmt).isDefined
    }
  }

  "the memo-site scan" should "find no concurrent or weak map outside Memo.scala" in {
    root.toFile.isDirectory shouldBe true // run from the repo root
    val found = allSources
      .map(p => root.relativize(p).toString -> mapDecls(p))
      .filter { case (f, n) => n > 0 && f != "io/Memo.scala" }.toMap
    withClue("a ConcurrentHashMap/TrieMap/WeakHashMap declared outside " +
      "io/Memo.scala: route the memo through graft.io.Memo, or allow-list " +
      s"the file with the reason it is not a memo (now: $mapAllowList): ") {
      found.keySet shouldBe mapAllowList.keySet
    }
    // the one exit hook cleans Memo's store directories
    val hooks = allSources.map(p => root.relativize(p).toString ->
      codeLines(p).map(l => "addShutdownHook".r.findAllIn(l).size).sum)
      .filter(_._2 > 0)
    hooks shouldBe Vector("io/Memo.scala" -> 1)
  }

  "the persist-site inventory" should "match the classified whitelist exactly" in {
    root.toFile.isDirectory shouldBe true // run from the repo root
    val actual = sources
      .map(p => root.relativize(p).toString -> pinCount(p))
      .filter(_._2 > 0).toMap
    val missing = whitelist.keySet -- actual.keySet
    val unclassified = actual.keySet -- whitelist.keySet
    withClue(s"files with pins but no classification (add to whitelist with a " +
      s"lifecycle class): $unclassified; whitelisted files with no pins left " +
      s"(remove stale entries): $missing: ") {
      unclassified shouldBe empty
      missing shouldBe empty
    }
    actual.foreach { case (f, n) =>
      withClue(s"$f pin-site count moved (re-classify the new/removed site): ") {
        n shouldBe whitelist(f)._1
      }
    }
  }

  it should "satisfy each classification's structural invariant" in {
    whitelist.foreach { case (f, (_, cls)) =>
      val text = new String(Files.readAllBytes(root.resolve(f)), "UTF-8")
      withClue(s"$f classified $cls: ") {
        cls match {
          case Managed => text should include("new Managed(")
          case Released | Serving => text should include("unpersist")
          case RunScoped => f should startWith("pipelines/")
          case Helper =>
            // the conditional-persist gate: must probe the public cache
            // state and persist ONLY when absent — lifecycle stays owned
            // by each calling site's own classification
            text should include("storageLevel == org.apache.spark.storage.StorageLevel.NONE")
        }
      }
    }
  }
}
