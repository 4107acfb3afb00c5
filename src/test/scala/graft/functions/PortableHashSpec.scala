package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The portable hash has one spelling per engine, and they agree: Spark's
  * `md5Prefix` equals the JVM's `md5PrefixLong` at every width on seeded
  * random strings (ASCII, CJK, emoji, empty), and no other Spark code
  * spells the hash by hand. */
class PortableHashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val rnd = new scala.util.Random(42)
  private def randomString(n: Int): String = {
    val sb = new java.lang.StringBuilder
    (1 to n).foreach { _ =>
      val cp = rnd.nextInt(3) match {
        case 0 => 0x20 + rnd.nextInt(0x5f)     // printable ASCII
        case 1 => 0x4e00 + rnd.nextInt(0x5200) // CJK ideographs (3 UTF-8 bytes)
        case _ => 0x1f300 + rnd.nextInt(0x300) // emoji (surrogate pair, 4 bytes)
      }
      sb.appendCodePoint(cp)
    }
    sb.toString
  }
  private val strings: Seq[String] =
    Seq("", "a", "abc") ++ (1 to 200).map(_ => randomString(rnd.nextInt(40)))

  test("md5Prefix equals md5PrefixLong at every width 1-15; null gives null") {
    import spark.implicits._
    val widths = 1 to 15
    val rows = (strings.map(Option(_)) :+ None).toDF("s")
      .select(col("s") +: widths.map(n => PortableHash.md5Prefix(col("s"), n)): _*)
      .collect()
    assert(rows.length == strings.size + 1)
    rows.foreach { r =>
      val s = r.getString(0)
      widths.foreach { n =>
        if (s == null) assert(r.isNullAt(n), s"width $n of null")
        else assert(r.getLong(n) == PortableHash.md5PrefixLong(s, n), s"width $n of '$s'")
      }
    }
  }

  test("the range form equals the whole-array form on random slices") {
    strings.filter(_.nonEmpty).foreach { s =>
      val bytes = s.getBytes(UTF_8)
      val off = rnd.nextInt(bytes.length)
      val len = rnd.nextInt(bytes.length - off + 1)
      val n = 1 + rnd.nextInt(15)
      assert(PortableHash.md5PrefixLongRange(bytes, off, len, n) ==
        PortableHash.md5PrefixLong(bytes.slice(off, off + len), n), s"'$s'[$off, +$len) width $n")
    }
  }

  test("no Spark code outside PortableHash spells the hash by hand") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "run from the repo root")
    // the Column and the SQL-string form; DuckDB has no conv
    val spelling = "(?i)conv\\(\\s*substring\\(\\s*md5".r
    val hits = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith("functions/PortableHash.scala"))
      .flatMap { p =>
        val text = Files.readString(p)
        spelling.findAllMatchIn(text).map { m =>
          s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }.toSeq
    assert(hits.isEmpty, s"use PortableHash.md5Prefix: ${hits.mkString(", ")}")
  }
}
