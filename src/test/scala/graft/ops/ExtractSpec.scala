package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.SparkSpec

class ExtractSpec extends SparkSpec {

  private def tmpFile(name: String, bytes: Array[Byte]): String = {
    val dir = Files.createTempDirectory("extract_spec")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  test("precheck rejects missing paths and directories") {
    assertThrows[DataQualityException] {
      Extract.precheckSource("/nonexistent/file.csv")
    }
    val dir = Files.createTempDirectory("as_dir").toString
    assertThrows[DataQualityException] { Extract.precheckSource(dir) }
  }

  test("precheck accepts valid UTF-8 of any size") {
    val small = tmpFile("small.csv", "a,b\n1,2\n".getBytes("UTF-8"))
    Extract.precheckSource(small)
    // > 64 KiB with multibyte chars spread through it
    val big = ("héllo,wörld\n" * 20000).getBytes("UTF-8")
    assert(big.length > 64 * 1024)
    Extract.precheckSource(tmpFile("big.csv", big))
  }

  test("precheck rejects invalid UTF-8 inside the sniff window, even for large files") {
    // 100 KiB file with a raw Latin-1 0xE9 at offset ~100: the gate must
    // fire although the file exceeds the 64 KiB sniff window
    val good = ("x" * 100).getBytes("UTF-8")
    val bad = Array[Byte](0xE9.toByte)
    val rest = ("y" * (100 * 1024)).getBytes("UTF-8")
    val path = tmpFile("latin1.csv", good ++ bad ++ rest)
    assertThrows[DataQualityException] { Extract.precheckSource(path) }
  }

  test("precheck tolerates a multibyte char cut at the sniff boundary") {
    // place a 2-byte char straddling the 64 KiB boundary: first byte at
    // offset 65535, continuation at 65536 (outside the window)
    val prefix = ("a" * 65535).getBytes("UTF-8")
    val multibyte = "é".getBytes("UTF-8") // 0xC3 0xA9
    val suffix = ("b" * 1000).getBytes("UTF-8")
    val path = tmpFile("boundary.csv", prefix ++ multibyte ++ suffix)
    Extract.precheckSource(path)
  }

  test("precheck tolerates a 4-byte char cut at the sniff boundary") {
    // lead + 2 of 3 continuations inside the window, last outside
    val prefix = ("a" * 65533).getBytes("UTF-8")
    val emoji = Array(0xF0, 0x9F, 0x98, 0x80).map(_.toByte) // U+1F600
    val suffix = ("b" * 1000).getBytes("UTF-8")
    Extract.precheckSource(tmpFile("cut4.csv", prefix ++ emoji ++ suffix))
  }

  test("precheck rejects malformed bytes in the final 3 bytes of the window") {
    // an invalid lead byte (0xFF) at the very last window offset is NOT
    // a cut-off char and must fail
    val p1 = ("a" * 65535).getBytes("UTF-8") ++ Array(0xFF.toByte) ++
      ("b" * 1000).getBytes("UTF-8")
    assertThrows[DataQualityException] {
      Extract.precheckSource(tmpFile("badlead.csv", p1))
    }
    // a bare continuation byte after ASCII in the window tail must fail
    val p2 = ("a" * 65534).getBytes("UTF-8") ++ Array(0x80.toByte) ++
      ("b" * 1000).getBytes("UTF-8")
    assertThrows[DataQualityException] {
      Extract.precheckSource(tmpFile("barecont.csv", p2))
    }
  }

  test("precheck window tail distinguishes valid from invalid partial sequences") {
    def file(tail: Int*): String =
      tmpFile(s"tail${tail.map(b => f"$b%02x").mkString}.csv",
        ("a" * (65536 - tail.size)).getBytes("UTF-8") ++
          tail.map(_.toByte).toArray ++ ("b" * 1000).getBytes("UTF-8"))
    // overlong/illegal prefixes cut at the boundary must FAIL
    assertThrows[DataQualityException] {
      Extract.precheckSource(file(0xE0, 0x80)) // E0 needs A0-BF second
    }
    assertThrows[DataQualityException] {
      Extract.precheckSource(file(0xF4, 0x90)) // F4 needs 80-8F second
    }
    assertThrows[DataQualityException] {
      Extract.precheckSource(file(0xF5, 0x80)) // F5 is never a valid lead
    }
    assertThrows[DataQualityException] {
      Extract.precheckSource(file(0xC0)) // overlong 2-byte lead
    }
    // genuine cut-off chars must PASS
    Extract.precheckSource(file(0xE0, 0xA0)) // valid 3-byte prefix
    Extract.precheckSource(file(0xED, 0x9F)) // valid (below surrogates)
    Extract.precheckSource(file(0xF4, 0x8F, 0xBF)) // valid 4-byte prefix
  }

  // ---- extractCsv: the sanity gates after the read ----

  private val idV = StructType(Seq(StructField("id", LongType),
    StructField("v", StringType)))

  /** A headered `id,v` CSV; `v` is empty (NULL) on the first `nullV`
    * of `n` rows. */
  private def idVCsv(name: String, n: Int, nullV: Int): String =
    tmpFile(name, ("id,v\n" + (1 to n).map(i =>
      if (i <= nullV) s"$i," else s"$i,x$i").mkString("\n")).getBytes("UTF-8"))

  private def extract(path: String): Long =
    Extract.extractCsv(spark, path, idV, Seq("id", "v"))._2

  private def gateMessage(path: String): String =
    intercept[DataQualityException](extract(path)).getMessage

  test("extractCsv: an empty file and a header-only file raise 'source is empty'") {
    assert(gateMessage(tmpFile("empty.csv", Array.emptyByteArray))
      .contains("source is empty"))
    assert(gateMessage(tmpFile("header.csv", "id,v\n".getBytes("UTF-8")))
      .contains("source is empty"))
  }

  test("extractCsv: the NULL-percentage gate fires above 95% and not at it") {
    val m = gateMessage(idVCsv("null96.csv", 100, 96))
    assert(m.contains("columns exceed") && m.contains("v=96.0%"), m)
    // exactly at the bound passes: 95 of 100, and 19 of 20 (where a
    // mean-times-100 formulation and a sum-times-100-over-n one could
    // round differently)
    assert(extract(idVCsv("null95.csv", 100, 95)) == 100)
    assert(extract(idVCsv("null95of20.csv", 20, 19)) == 20)
  }

  test("extractCsv: a full-row duplicate raises with a sample") {
    val path = tmpFile("dup.csv", "id,v\n1,a\n2,b\n2,b\n3,c\n".getBytes("UTF-8"))
    val m = gateMessage(path)
    assert(m.contains("duplicate full rows, sample: [2,b,2]"), m)
  }

  test("extractCsv: a malformed row fails the read under FAILFAST") {
    val path = tmpFile("malformed.csv",
      "id,v\n1,a\nnot_a_number,b\n3,c\n".getBytes("UTF-8"))
    val e = intercept[Exception](extract(path))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage).toLowerCase).mkString(" | ")
    assert(chain.contains("malformed"), chain)
  }

  test("extractCsv: a clean file returns the frame and its row count") {
    val path = idVCsv("clean.csv", 250, 10)
    val (df, n) = Extract.extractCsv(spark, path, idV, Seq("id", "v"))
    assert(n == 250)
    assert(df.count() == 250)
    assert(df.columns.toSeq == Seq("id", "v"))
  }
}
