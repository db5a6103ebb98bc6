package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Spec-locked cache-lifecycle inventory: EVERY `.persist(` / `.cache()` /
  * `ensurePersisted(` call site in non-probe main source must appear in the
  * whitelist below with a lifecycle classification, and each carries a
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
  *  - `helper` — the shared conditional-persist gate
  *    ([[Managed.ensurePersisted]]): persists only when the plan is not
  *    already cached; the pin's lifecycle belongs to the CALLING site.
  *
  * `tools/` is excluded: probes are one-shot measurement mains, not
  * library surface. RegistryLifecycleSpec asserts the RUNTIME half — the
  * persistent-RDD map returns to baseline after each registry query.
  */
class PersistInventorySpec extends AnyFlatSpec with Matchers {

  private val Managed = "managed"
  private val Released = "released"
  private val Serving = "serving"
  private val Helper = "helper"

  /** file (relative to src/main/scala/graft) -> (pin-site count, class). */
  private val whitelist: Map[String, (Int, String)] = Map(
    "ops/Bpe.scala" -> (2, Released), // distributed merge-loop generations
    "ops/Hits.scala" -> (4, Managed), // hitsManaged: graph frames + iterates
    "ops/PageRank.scala" -> (5, Managed), // pageRank/trustRankManaged
    "ops/Profiler.scala" -> (1, Released), // rank-select scratch, read twice
    // overlapStatsWithPostings pins the postings frame before filling it
    // concurrently with the stats job; scoreBm25 reads that one pin and
    // releases it.
    "ops/Retrieval.scala" -> (1, Released), // BM25 tf table, freed post-topN
    // round 15: the warm-path pins (Sampling prefix-sum scratch, SemDedup
    // assignment, SpanDedup occurrences, TextDedup ppjoin/simhash
    // signatures) route through Managed.ensurePersisted — persist only
    // when the plan is not already cached, so a re-invocation ALIASES
    // silently instead of logging the CacheManager re-persist WARN
    // (CacheAliasingSpec locks the benignity); so do PageRank's graph
    // frames, the LSH signature table and the minhash prepare/delta pins,
    // which later runs over the same input alias the same way. Their
    // lifecycle class is unchanged (managed handles still release them).
    "ops/Managed.scala" -> (1, Helper), // ensurePersisted, the shared gate
    "ops/Sampling.scala" -> (2, Managed), // prefix-sum scratch
    "ops/SemDedup.scala" -> (2, Managed), // cluster assignment, batch
    "ops/Similarity.scala" -> (1, Managed), // LSH signature table
    "ops/SpanDedup.scala" -> (1, Managed), // span occurrences
    // minhash prepare + increment delta, ppjoin prefixes, simhash signatures
    "ops/TextDedup.scala" -> (5, Managed),
    "ops/TextRank.scala" -> (3, Managed), // keywordsManaged: pair counts, ids + edges
    "pipelines/CorpusPrepStream.scala" -> (1, Released), // per-batch transient
    "pipelines/CorpusStore.scala" -> (1, Serving), // served index, swap frees
    // validate-mode union reuse: handed back in Cpa.Result.cachedInput and
    // released by Runner.run once the outputs are written (dropped in-body
    // when the staleness check aborts)
    "pipelines/Cpa.scala" -> (1, Released),
    "pipelines/Runner.scala" -> (1, Released), // one output pin per CSV+XLSX sink pair
    "streaming/LshStream.scala" -> (2, Serving) // served LSH index, swap frees
  )

  private val root = Paths.get("src/main/scala/graft")
  private val pinSite = raw"(\.persist\(|\.cache\(\)|ensurePersisted\()".r

  private def sources: Seq[java.nio.file.Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => p.toString.endsWith(".scala") &&
      !root.relativize(p).toString.startsWith("tools/")).toVector
    finally s.close()
  }

  private def pinCount(p: java.nio.file.Path): Int =
    Files.readAllLines(p).asScala
      .map(_.trim)
      // comment lines legitimately DISCUSS persisting; only code pins
      .filterNot(l => l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
      .map(l => pinSite.findAllIn(l).size).sum

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
