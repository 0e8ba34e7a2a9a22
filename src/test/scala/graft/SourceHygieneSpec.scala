package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-level guard for the round-10 scale-regression class: an
 * unconditional `repartition` on a text/blob-carrying frame silently
 * re-shuffles the full corpus at 100 TB (the "documents never shuffle"
 * contract's one systemic violation, fixed in r11 by the conditional
 * `FanOut.fanOut`). Plan tests pin the queries that exist; this spec
 * pins the CODE so a new operator can't quietly reintroduce a raw
 * call site: every `.repartition(` in ops/ + queries/ must be one of
 * the frozen, individually-justified sites below. The last two tests
 * keep raw parquet reads and session memos out the same way.
 */
class SourceHygieneSpec extends AnyFunSuite {

  private val roots = Seq(
    "src/main/scala/graft/ops", "src/main/scala/graft/queries")

  /** file name -> max allowed `.repartition(` call sites, each one
   *  deliberate and documented at the call site:
   *  - FanOut.scala: THE sanctioned conditional fan-out device;
   *  - SimilarityOps.scala: corpus-capped O(n²) probe-side fan-out
   *    (embeddingNearDups, refuses > maxCorpus);
   *  - JoinOps.scala: post-agg snapshot fan-out for O(fleet²)
   *    proximity pairs (tiny fixed-width frame);
   *  - TextOps.scala: sol_shuffled's exchange-per-hop benchmark chain
   *    (the exchange IS the measured artifact). */
  private val frozen = Map(
    "FanOut.scala" -> 1,
    "SimilarityOps.scala" -> 1,
    "JoinOps.scala" -> 1,
    "TextOps.scala" -> 1)

  test("no new raw .repartition( call sites in ops/ or queries/ — " +
      "heavy per-row stages go through FanOut.fanOut") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    roots.foreach { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .foreach { p: Path =>
          val name = p.getFileName.toString
          val n = "\\.repartition\\(".r
            .findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size
          val allowed = frozen.getOrElse(name, 0)
          if (n > allowed)
            offenders += s"$p: $n raw repartition call sites (allowed $allowed)"
        }
    }
    assert(offenders.isEmpty,
      offenders.mkString(
        "raw repartition on a corpus-carrying frame is the r10 " +
          "scale-killer class — route heavy per-row stages through " +
          "FanOut.fanOut (conditional on scan width) or, for a " +
          "genuinely deliberate exchange, freeze the new site here " +
          "with its justification:\n", "\n", ""))
  }

  test("the frozen sites still exist (stale allowlist rots the guard)") {
    frozen.foreach { case (name, n) =>
      val p = roots.map(r => Paths.get(r, name)).find(Files.exists(_))
      assert(p.isDefined, s"$name in the allowlist but not in ops/ or queries/")
      val got = "\\.repartition\\(".r
        .findAllIn(new String(Files.readAllBytes(p.get), "UTF-8")).size
      assert(got == n,
        s"$name has $got call sites, allowlist says $n — update the freeze")
    }
  }

  test("no spark.read.parquet( in ops/ or queries/: every batch table " +
      "read goes through Tables (footer schema, no inference job)") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    roots.foreach { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .foreach { p: Path =>
          val n = "\\bread\\s*\\.\\s*parquet\\(".r
            .findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size
          if (n > 0) offenders += s"$p: $n spark.read.parquet( call sites"
        }
    }
    assert(offenders.isEmpty, offenders.mkString(
      "read tables with graft.model.Tables.parquet (or a named loader), " +
        "which skips the one-task schema-inference job:\n", "\n", ""))
  }

  /** Receivers allowed a `computeIfAbsent` in queries/. A session memo
   *  (a map that outlives the call, or a key built from the session's
   *  UUID) would let a timed or oracle-checked invocation serve a
   *  result an earlier one stored; every query computes from its
   *  inputs instead. `coPairsBuilt` is not such a memo: it records
   *  which written, named co-pairs table this application already has
   *  (AnalyticsQueries.coPairsTable) and holds no computed frame. */
  private val keyedCaches = Set("coPairsBuilt")

  test("no session memo in queries/: computeIfAbsent only on the " +
      "allowlisted keyed caches, and no session-UUID key") {
    val queries = Paths.get("src/main/scala/graft/queries")
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    Files.walk(queries).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .foreach { p: Path =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        "(?:(\\w+)\\s*\\.\\s*)?computeIfAbsent".r.findAllMatchIn(src)
          .map(m => Option(m.group(1)).getOrElse("<expression>"))
          .foreach { r =>
            seen += r
            if (!keyedCaches(r)) offenders += s"$p: $r.computeIfAbsent"
          }
        if ("(?i)session_?uuid".r.findFirstIn(src).isDefined)
          offenders += s"$p: a key built from the session UUID"
      }
    assert(offenders.isEmpty, offenders.mkString(
      "a query must compute from its inputs, not serve a result an " +
        "earlier invocation stored:\n", "\n", ""))
    assert(keyedCaches.subsetOf(seen),
      s"allowlisted ${keyedCaches diff seen} no longer in queries/ — " +
        "drop it from the allowlist")
  }
}
