package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression gate: every gate query's canonicalized physical-plan
  * digest (operator tree shape + exchange count + codegen span count +
  * expression-node count, no ids/paths) must match the committed
  * baseline. The round-9 InferFiltersFromGenerate blowup was only caught
  * because someone happened to look at a plan — this makes an
  * unexplained shape or expression-size change fail `sbt test` the round
  * it lands.
  *
  * After an INTENTIONAL plan change, inspect the diff this spec prints,
  * then regenerate with `sbt "runMain graft.PlanFingerprintDump"` and
  * commit the new baseline alongside the change.
  */
class PlanFingerprintSpec extends AnyFunSuite {

  test("physical-plan digests match the committed baseline") {
    val baselineFile = java.nio.file.Paths.get(PlanFingerprint.BaselinePath)
    assert(java.nio.file.Files.exists(baselineFile),
      s"missing $baselineFile — generate it with `sbt \"runMain graft.PlanFingerprintDump\"`")
    val baseline = PlanFingerprint.parseBaseline(
      java.nio.file.Files.readString(baselineFile))
    val current = PlanFingerprint.digestAll(BuiltQueries.all)
    val problems = scala.collection.mutable.Buffer.empty[String]
    current.foreach { case (name, d) =>
      baseline.get(name) match {
        case None =>
          problems += s"$name: new query with no committed fingerprint"
        case Some(b) if b != d =>
          problems += s"$name: plan changed\n" +
            s"  baseline: exchanges=${b.exchanges} codegen=${b.codegenSpans} expr=${b.exprNodes}\n" +
            s"            ${b.shape}\n" +
            s"  current:  exchanges=${d.exchanges} codegen=${d.codegenSpans} expr=${d.exprNodes}\n" +
            s"            ${d.shape}"
        case _ => ()
      }
    }
    baseline.keySet.diff(current.map(_._1).toSet)
      .foreach(n => problems += s"$n: baseline fingerprint for a query that no longer exists")
    assert(problems.isEmpty,
      problems.mkString(
        "\nunexplained physical-plan changes (if intentional, regenerate " +
          "the baseline with `sbt \"runMain graft.PlanFingerprintDump\"` " +
          "and commit it with the change):\n\n", "\n\n", "\n"))
  }
}
