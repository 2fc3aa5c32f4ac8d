package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val root = new File("target/gen-spec")

  private def bytes(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  private def generated(name: String)(gen: File => Gen.Inputs): Map[String, Seq[Byte]] = {
    val dir = new File(root, name)
    Option(dir.listFiles()).foreach(_.foreach(_.delete()))
    val in = gen(dir)
    assert(in.cells > 0 && in.bytes == dir.listFiles().map(_.length).sum)
    assert(in.planted.nonEmpty)
    bytes(dir)
  }

  test("closed-platform inputs: same seed, same bytes; another seed, other bytes") {
    def gen(seed: Long, tag: String) =
      generated(s"closed-$tag")(Gen.closedPlatform(_, seed, platforms = 2, probes = 200, samples = 6))
    val a = gen(7, "a")
    assert(a.keySet == Set("GPL01.tsv", "GPL02.tsv", "annot.tsv", "flat.tsv",
      "outliers.tsv", "samples.tsv", "planted.tsv"))
    assert(gen(7, "b") == a)
    val c = gen(8, "c")
    assert(c.keySet == a.keySet && c != a)
    assert(c("GPL01.tsv") != a("GPL01.tsv"))
  }

  test("RNA-seq + arrays inputs: same seed, same bytes; another seed, other bytes") {
    def gen(seed: Long, tag: String) =
      generated(s"meta-$tag")(Gen.rnaseqMeta(_, seed, arrays = 2, genes = 200,
        arraySamples = 6, rnaSamples = 8))
    val a = gen(7, "a")
    assert(a.keySet == Set("GPL01.tsv", "GPL02.tsv", "counts.tsv", "outliers.tsv",
      "samples.tsv", "planted.tsv"))
    assert(gen(7, "b") == a)
    val c = gen(8, "c")
    assert(c("counts.tsv") != a("counts.tsv") && c("GPL02.tsv") != a("GPL02.tsv"))
  }
}
