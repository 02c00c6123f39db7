package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Keeps metadata durability and JSON escaping in one place each: an
  * overwrite-rename or a create-if-absent belongs in
  * `graft.state.MetaFile`, a JSON string escaper in `graft.JsonUtil`. */
class MetaFileGuardSpec extends AnyFunSuite {

  private val owners = Set("graft/JsonUtil.scala", "graft/state/MetaFile.scala")

  private val forbidden = Seq(
    "overwrite rename" -> """Rename\.OVERWRITE""".r,
    "create-if-absent" -> """\.create\([^()]*,\s*false\s*\)""".r,
    "JSON string escaper" -> """case\s+'"'\s*=>""".r,
    "JSON quote escaping" -> """replace\("\\"",\s*"\\\\\\""\)""".r)

  test("no metadata-file or JSON-escaping mechanism outside MetaFile and JsonUtil") {
    val base = new File("src/main/scala")
    assert(base.isDirectory, s"run from the project root: ${base.getAbsolutePath}")
    def scalaFiles(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    def lines(f: File): Seq[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val hits = for {
      f <- scalaFiles(base)
      rel = base.toPath.relativize(f.toPath).toString
      if !owners.contains(rel)
      (line, n) <- lines(f).zipWithIndex
      (what, rx) <- forbidden
      if rx.findFirstIn(line).isDefined
    } yield s"$rel:${n + 1}: $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
