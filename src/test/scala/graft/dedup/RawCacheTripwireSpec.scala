package graft.dedup

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire: the media dedup stack caches ONLY through [[Cached]]. A raw
  * `.persist(`, `.unpersist(` or `.cache()` in these sources is a cache
  * whose release is hand-paired again — the shape that leaked frames on
  * refusals and left banded frames alive for the whole session. */
class RawCacheTripwireSpec extends AnyFunSuite {

  private val root = new File("src/main/scala/graft")
  private val raw = """\.(persist|unpersist)\(|\.cache\(\)""".r

  private def sources: Seq[File] =
    Option(new File(root, "multimodal").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala")) ++
      Seq("dedup/HammingBands.scala", "dedup/PerceptualDedup.scala",
        "streaming/MediaDedupIngest.scala").map(new File(root, _))

  test("no raw persist/unpersist/cache outside the scoped-cache helper") {
    val files = sources
    assert(files.size > 3 && files.forall(_.isFile),
      s"scan set not found under ${root.getAbsolutePath}: $files")
    val hits = for {
      f <- files
      (line, i) <- {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toVector.zipWithIndex finally src.close()
      }
      if raw.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      "raw cache calls — use graft.dedup.Cached.scope:\n" +
        hits.mkString("\n"))
  }
}
