package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tmp

/** The staging contract of [[graft.core.Tmp]]: content-keyed staged
  * paths and memo, bounded replays that never leak their checkpoint, and
  * per-process reclaim of everything staged.
  */
class TmpSpec extends AnyFunSuite {

  private def dataset(bytes: String): java.nio.file.Path = {
    val d = Files.createTempDirectory("graft-tmpspec")
    d.toFile.deleteOnExit()
    Files.write(d.resolve("t.parquet"), bytes.getBytes("UTF-8")).toFile.deleteOnExit()
    d
  }

  test("stagedOnce builds once per source content") {
    val d = dataset("v1").toString
    var builds = 0
    def build(): String = Tmp.stagedOnce("tmpspec_once", d) { p => builds += 1; p }
    val p1 = build()
    assert(build() == p1 && builds == 1, "unchanged content must not rebuild")
    assert(p1 == Tmp.staged("tmpspec_once", d))
  }

  test("a content change gives a new staged path and a rebuild") {
    val d = dataset("v1")
    val built = scala.collection.mutable.Buffer.empty[String]
    def build(): String = Tmp.stagedOnce("tmpspec_change", d.toString) { p => built += p; p }
    val p1 = build()
    Files.write(d.resolve("t.parquet"), "v2-longer".getBytes("UTF-8"))
    val p2 = build()
    assert(p1 != p2, "path identity must follow content identity")
    assert(built == Seq(p1, p2))
  }

  test("replay deletes its checkpoint when start throws") {
    var ckpt: Option[String] = None
    val e = intercept[IllegalStateException] {
      Tmp.replay("graft-tmpspec-ckpt") { c =>
        ckpt = Some(c)
        assert(Files.isDirectory(Paths.get(c)))
        throw new IllegalStateException("start failed")
      }
    }
    assert(e.getMessage == "start failed")
    assert(ckpt.exists(c => !Files.exists(Paths.get(c))), s"checkpoint left behind: $ckpt")
  }

  test("a JVM reclaims its staged root at exit") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-Xmx64m",
        "-cp", System.getProperty("java.class.path"),
        "graft.TmpSpecStageMain", dataset("exit").toString)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream, "UTF-8").mkString
    assert(child.waitFor() == 0, out)
    val root = out.linesIterator.collectFirst {
      case l if l.startsWith("staged-root ") => l.stripPrefix("staged-root ")
    }
    assert(root.exists(_.contains(s"graft-staged-${child.pid()}")), out)
    assert(!Files.exists(Paths.get(root.get)), s"${root.get} outlived its JVM")
  }

  test("catalog queries stage through Tmp, never through hand-built tmp paths") {
    val files = Option(new java.io.File("src/main/scala/graft").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("Queries") && f.getName.endsWith(".scala"))
    assert(files.nonEmpty, "run from the repo root")
    val offenders = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (l, i) if l.contains("java.io.tmpdir") || l.contains("ProcessHandle.current") =>
          s"${f.getName}:${i + 1}: ${l.trim}"
      }.toList
      finally src.close()
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

/** Child-JVM side of the reclaim test: stage one file, report the root. */
object TmpSpecStageMain {
  def main(args: Array[String]): Unit = {
    val p = Paths.get(Tmp.staged("exit", args(0)))
    Files.createDirectories(p)
    Files.write(p.resolve("f"), Array[Byte](1))
    require(Files.exists(p.resolve("f")))
    println(s"staged-root ${p.getParent}")
  }
}
