package graft

import java.io.File

import scala.util.matching.Regex

/** Source-scan guards: where `pattern` matches in `src/main/scala`
  * outside the files allowed to use it (none: anywhere), as `path:line`.
  */
object SourceGuard {

  def offenders(pattern: Regex, allowedIn: String*): Seq[String] = {
    def scalaFiles(dir: File): Seq[File] = Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val files = scalaFiles(new File("src/main/scala"))
    allowedIn.foreach(a => require(files.exists(_.getPath.endsWith(a)), s"no $a under src/main/scala"))
    files.filterNot(f => allowedIn.exists(f.getPath.endsWith)).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      pattern.findAllMatchIn(text).map(m => s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}")
    }
  }
}
