package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output contract and its failure accounting. */
class ContractSpec extends AnyFunSuite {

  private def specNames(section: String): Seq[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val start = text.indexOf(s""""$section"""")
    val body = text.substring(start, text.indexOf(']', start))
    "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  test("every per-layer metric BENCHMARK.json names is produced by every traced run") {
    assert(specNames("per_layer").sorted == Main.commonLayerKeys.sorted)
  }

  test("every end-to-end metric BENCHMARK.json names is produced by every run") {
    assert(specNames("end_to_end").sorted == Main.endToEndKeys.sorted)
  }

  private val first = Outcome(Seq(Part("a", 10, 123), Part("b", 4, 5)))

  test("matching outputs count as attempted and never as failed") {
    assert(Main.judge(first, Nil, Seq(first, first)) == ((3, 0)))
    assert(Main.exitCode(0) == 0)
  }

  test("an injected wrong output raises the failure count and the exit code") {
    val wrong = first.copy(parts = first.parts.map(p => p.copy(checksum = p.checksum + 1)))
    val (attempted, failed) = Main.judge(first, Nil, Seq(first, wrong))
    assert(attempted == 3 && failed == 1)
    assert(Main.exitCode(failed) == 1)
  }

  test("a brute-force mismatch fails the cold iteration") {
    assert(Main.judge(first, Seq("pip keys differ"), Seq(first)) == ((2, 1)))
  }
}
