package graft

import graft.sources.{Formats, Layouts}
import java.io.File
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The build-once protocol and the root-name contract of the lazily
  * derived /tmp layouts. */
class LayoutsSpec extends AnyFunSuite {

  private def withSource(body: String => Unit): Unit = {
    val dataDir = Files.createTempDirectory("layouts_spec_src").toString
    try body(dataDir)
    finally {
      Option(new File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.contains(Formats.sanitize(dataDir)))
        .foreach(Formats.deleteRecursively)
      Formats.deleteRecursively(new File(dataDir))
    }
  }

  private def writeFile(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  private def siblings(root: String): Seq[String] = {
    val f = new File(root)
    f.getParentFile.listFiles().map(_.getName).toSeq
      .filter(_.startsWith(f.getName))
  }

  test("a build that throws leaves nothing at the root; the next " +
    "call rebuilds") {
    withSource { dataDir =>
      val root = Layouts.root("layoutsspec", dataDir)
      val err = intercept[IllegalStateException] {
        Layouts.once(root) { dir =>
          writeFile(s"$dir/part", "half")
          throw new IllegalStateException("builder crashed")
        }
      }
      assert(err.getMessage == "builder crashed")
      assert(!new File(root).exists())
      assert(siblings(root).isEmpty, "staging dir left behind")
      Layouts.once(root)(dir => writeFile(s"$dir/part", "whole"))
      assert(new String(Files.readAllBytes(Paths.get(s"$root/part")),
        "UTF-8") == "whole")
    }
  }

  test("a second call does not invoke the build") {
    withSource { dataDir =>
      val root = Layouts.root("layoutsspec", dataDir)
      var builds = 0
      def build(dir: String): Unit = {
        builds += 1
        writeFile(s"$dir/part", "x")
      }
      assert(Layouts.once(root)(build) == root)
      assert(Layouts.once(root)(build) == root)
      assert(builds == 1)
      assert(siblings(root) == Seq(new File(root).getName))
    }
  }

  test("a changed source file evicts the stale fingerprint sibling " +
    "and nothing else") {
    withSource { dataDir =>
      val src = s"$dataDir/facts.txt"
      writeFile(src, "v1")
      val other = Layouts.once(Layouts.root("layoutsspec_other", dataDir,
        src))(dir => writeFile(s"$dir/part", "o"))
      val old = Layouts.once(Layouts.root("layoutsspec", dataDir, src))(
        dir => writeFile(s"$dir/part", "1"))
      assert(new File(old).isDirectory)
      writeFile(src, "v2 (longer)")
      val fresh = Layouts.root("layoutsspec", dataDir, src)
      assert(fresh != old)
      assert(fresh.startsWith(
        s"/tmp/graft_layoutsspec_${Formats.sanitize(dataDir)}_"))
      assert(!new File(old).exists(), "stale fingerprint not evicted")
      assert(new File(other).isDirectory,
        "another family's layout was evicted")
    }
  }

  test("root names start with /tmp/graft_ and carry the sanitized " +
    "data dir") {
    withSource { dataDir =>
      writeFile(s"$dataDir/facts.txt", "v1")
      for (root <- Seq(Layouts.root("layoutsspec", dataDir),
          Layouts.root("layoutsspec", dataDir, s"$dataDir/facts.txt"))) {
        assert(root.startsWith("/tmp/graft_"))
        assert(root.contains(Formats.sanitize(dataDir)))
      }
      assert(Layouts.root("layoutsspec", dataDir) ==
        s"/tmp/graft_layoutsspec_${Formats.sanitize(dataDir)}")
    }
  }

  test("a dead builder's staging dir is evicted, a live one's is kept") {
    withSource { dataDir =>
      val exited = new ProcessBuilder("true").start()
      exited.waitFor()
      val running = new ProcessBuilder("sleep", "60").start()
      val live = running.pid()
      def staging(root: String, pid: Long): File = {
        val d = new File(s"$root.staging-$pid")
        d.mkdirs()
        writeFile(s"$d/part", "partial")
        d
      }
      try {
        val src = s"$dataDir/facts.txt"
        writeFile(src, "v1")
        val keyed = Layouts.root("layoutsspec", dataDir, src)
        val (keyedDead, keyedLive) =
          (staging(keyed, exited.pid()), staging(keyed, live))
        assert(Layouts.root("layoutsspec", dataDir, src) == keyed)
        assert(!keyedDead.exists(), "dead builder's staging dir kept")
        assert(keyedLive.isDirectory, "live builder's staging dir evicted")

        val plain = Layouts.root("layoutsspec", dataDir)
        val (plainDead, plainLive) =
          (staging(plain, exited.pid()), staging(plain, live))
        Layouts.once(plain)(dir => writeFile(s"$dir/part", "whole"))
        assert(!plainDead.exists(), "dead builder's staging dir kept")
        assert(plainLive.isDirectory, "live builder's staging dir evicted")
      } finally running.destroy()
    }
  }

  test("a layout another builder finished first is kept") {
    withSource { dataDir =>
      val root = Layouts.root("layoutsspec", dataDir)
      Layouts.once(root) { dir =>
        writeFile(s"$dir/part", "mine")
        // Another builder's rename lands while this one is building.
        new File(root).mkdirs()
        writeFile(s"$root/part", "theirs")
        writeFile(s"$root/_SUCCESS", "")
      }
      assert(new String(Files.readAllBytes(Paths.get(s"$root/part")),
        "UTF-8") == "theirs")
      assert(siblings(root) == Seq(new File(root).getName))
    }
  }
}
