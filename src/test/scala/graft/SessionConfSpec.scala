package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** No operator, stream or query mutates session-global config: a
  * `conf.set` is allowed only on a session the same file created with
  * `newSession()`. Concurrent memo warm-ups read the caller's session
  * config, so a set-and-restore there is a race, not a scoped pin. */
class SessionConfSpec extends AnyFunSuite {

  private val dirs = Seq("operators", "streaming", "queries")
    .map(d => Paths.get(s"src/main/scala/graft/$d"))

  test("operators, streaming and queries set config only on sessions they create") {
    val confSet = """(\w+)\s*\.\s*conf\s*\.\s*(?:set|unset)\s*\(""".r
    val rawSet = """setConf(?:String)?\s*\(|\bsql\s*\(\s*"(?i:set|reset)\b""".r
    val files = dirs.flatMap { d =>
      assert(Files.isDirectory(d), s"$d not found (run from the repo root)")
      Files.list(d).iterator.asScala.filter(_.toString.endsWith(".scala"))
    }
    assert(files.size > 20, s"only ${files.size} source files scanned")
    val offenders = files.flatMap { f =>
      val src = Files.readString(f)
      val owned = (name: String) =>
        s"""val\\s+$name\\s*=\\s*[\\w.]+\\.newSession\\(\\)""".r
          .findFirstIn(src).isDefined
      confSet.findAllMatchIn(src).filterNot(m => owned(m.group(1)))
        .map(m => s"${f.getFileName}: ${m.matched}") ++
        rawSet.findAllMatchIn(src).map(m => s"${f.getFileName}: ${m.matched}")
    }
    assert(offenders.isEmpty,
      s"session config set on a session the code did not create:\n" +
        offenders.mkString("\n"))
  }
}
