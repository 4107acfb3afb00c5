package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.withTempDir

/** The two publish rules: a file or a fully written tmp dir becomes
  * visible by one rename, a failed write leaves the destination and no
  * tmp behind, and an existing dir is kept or replaced as asked. */
class PublishSpec extends AnyFunSuite {
  private def names(root: Path): Set[String] =
    Files.list(root).toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet

  test("a file publishes its content; a second publish replaces it") {
    withTempDir("publish_spec") { root =>
      val f = root.resolve("sub/_state_format")
      Publish.file(f, "a:v1".getBytes(UTF_8))
      Publish.file(f, "a:v2".getBytes(UTF_8))
      assert(Files.readString(f) == "a:v2")
      assert(names(f.getParent) == Set("_state_format"))
    }
  }

  test("a dir is kept or replaced as asked; a failed write changes nothing") {
    withTempDir("publish_spec") { root =>
      val dest = root.resolve("v000000000001")
      def put(replace: Boolean, text: String): Boolean =
        Publish.dir(dest, replace)(tmp => Files.writeString(tmp.resolve("part"), text))
      assert(put(replace = false, "one"))
      assert(!put(replace = false, "two"), "an existing content-addressed dir is kept")
      assert(Files.readString(dest.resolve("part")) == "one")
      assert(put(replace = true, "three"))
      assert(Files.readString(dest.resolve("part")) == "three")
      intercept[IllegalStateException](Publish.dir(dest, replace = true) { tmp =>
        Files.writeString(tmp.resolve("part"), "torn")
        throw new IllegalStateException("planted")
      })
      assert(Files.readString(dest.resolve("part")) == "three")
      assert(names(root) == Set("v000000000001"), "no tmp dir is left behind")
    }
  }
}
