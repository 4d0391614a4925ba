package graft.ops

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** `Load.parquet` is the one parquet reader of the library: a bare
  * `read.parquet(` elsewhere in `src/main/scala` would infer its schema
  * with a Spark job on every call again. Reads that pass their own
  * reader options (`read.option(...).parquet`) are not matched.
  */
class ParquetReadPathSpec extends AnyFunSuite {

  private val BareRead = """\bread\s*\.\s*parquet\s*\(""".r

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no read.parquet( in src/main/scala outside graft/ops/Load.scala") {
    val root = new File("src/main/scala")
    val files = scalaFiles(root)
    assert(files.exists(_.getPath.endsWith("graft/ops/Load.scala")),
      s"no sources under ${root.getAbsolutePath}")
    val offenders = files.filterNot(_.getPath.endsWith("graft/ops/Load.scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      BareRead.findAllMatchIn(text).map { m =>
        s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"read through graft.ops.Load.parquet instead: ${offenders.mkString(", ")}")
  }
}
