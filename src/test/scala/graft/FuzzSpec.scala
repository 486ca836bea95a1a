package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Guards for the oracle-fuzz harness itself ([[Fuzz]]).
  *
  * Building a [[Fuzz.Draw]] runs the oracle-anchor substitutions
  * EAGERLY (`Fuzz.sub` requires the anchor text to exist in the
  * canonical SQL), so constructing every family's draws across many
  * seeds pins the fuzzer's ties to the canonical oracles inside `sbt
  * test`: a refactor of a canonical `oracleSql` entry that breaks an
  * anchor fails HERE, at spec time, not at the next fuzz run. Pure
  * construction — no SparkSession, so this suite costs milliseconds.
  */
class FuzzSpec extends AnyFunSuite {

  test("every family constructs valid draws across 25 seeds (anchors hold)") {
    val fams = Fuzz.families
    assert(fams.size >= 49, s"family count shrank to ${fams.size}")
    assert(fams.map(_._1).distinct.size == fams.size, "duplicate family names")
    for (seed <- 0 until 25) {
      val r = new Random(seed)
      fams.foreach { case (name, gen) =>
        val d = gen(r) // throws if an oracle anchor no longer resolves
        assert(d.family == name)
        assert(d.params.nonEmpty, s"$name: empty params at seed $seed")
        assert(d.oracle.trim.nonEmpty, s"$name: empty oracle at seed $seed")
        // the drawn literal must actually land in the oracle text —
        // a substitution that produced the canonical SQL unchanged
        // for EVERY seed would mean the draw is decorative (checked
        // per-family below, not per-seed: a draw can legitimately
        // equal the canonical value once)
      }
    }
    // decorative-draw guard: across 25 seeds each family must produce
    // at least 2 DISTINCT oracle texts (the parameter really moves)
    fams.foreach { case (name, gen) =>
      val r = new Random(7)
      val distinctOracles = (0 until 25).map(_ => gen(r).oracle).distinct
      assert(distinctOracles.size >= 2,
        s"$name: parameter never moved the oracle across 25 draws")
    }
  }

  test("draws are deterministic in the seed") {
    def all(seed: Long) = {
      val r = new Random(seed)
      Fuzz.families.map { case (_, gen) => val d = gen(r); (d.params, d.oracle) }
    }
    assert(all(42L) == all(42L))
    assert(all(42L) != all(43L))
  }

  test("data-shape families: canonical ties hold, params move with the seed") {
    val dfams = Fuzz.dataFamilies
    assert(dfams.size >= 13, s"data-family count shrank to ${dfams.size}")
    assert(dfams.map(_._1).distinct.size == dfams.size, "duplicate family names")
    for (seed <- 0 until 10) {
      val r = new Random(seed)
      dfams.foreach { case (name, gen) =>
        val d = gen(r)
        assert(d.family == name)
        assert(d.params.nonEmpty, s"$name: empty params at seed $seed")
        // the tie IS the canonical inventory: the query fn and oracle
        // both come straight from SparkEntry (incl. the fuzz-only
        // registry, r15) — a renamed query key fails here, at spec
        // time, not at the next fuzz run
        assert((SparkEntry.queries ++ SparkEntry.fuzzQueries)
            .contains(d.queryName),
          s"$name: queryName '${d.queryName}' not in SparkEntry.queries" +
            " ++ fuzzQueries")
        assert((SparkEntry.oracleSql ++ SparkEntry.fuzzOracleSql)
            .contains(d.queryName),
          s"$name: queryName '${d.queryName}' has no canonical oracle")
      }
    }
    // decorative-draw guard (data edition): the seed must actually move
    // the drawn data shape — params strings differ across 10 seeds
    dfams.foreach { case (name, gen) =>
      val r = new Random(11)
      val distinctParams = (0 until 10).map(_ => gen(r).params).distinct
      assert(distinctParams.size >= 2,
        s"$name: seed never moved the data shape across 10 draws")
    }
  }

  test("data-shape draws are deterministic in the seed") {
    def all(seed: Long) = {
      val r = new Random(seed)
      Fuzz.dataFamilies.map { case (_, gen) => gen(r).params }
    }
    assert(all(42L) == all(42L))
    assert(all(42L) != all(43L))
  }

  test("only GraftSession builds a session: the gates run the session users get") {
    // Verify and Fuzz are the oracle gates; a main that spells its own
    // SparkSession.builder() chain drifts from the preset (a missing
    // code-cache size, rewrite or extension) and the gate then tests a
    // session no user runs
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val callers = try scala.jdk.CollectionConverters.IteratorHasAsScala(
        files.iterator()).asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(f => call.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
      .map(_.getFileName.toString).toSet
    finally files.close()
    assert(callers == Set("GraftSession.scala"),
      s"SparkSession.builder() called outside GraftSession: ${callers - "GraftSession.scala"}")
  }
}
