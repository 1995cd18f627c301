package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}

/** Pins the one stage-and-drain path of [[EventStreams]]: staging pins the
  * micro-batch order, a drain drops its staging dir even when its query
  * throws, and no other code in the program starts a stream query, pins a
  * staged file's mtime or picks its trigger. */
class StreamDrainSpec extends SparkSpec {
  import EventStreams.{drain, newStaging, stage}

  test("stage pins the i-th file's mtime and replays a repeated frame by copy") {
    val tmp = newStaging("stream_drain_spec_stage")
    try {
      val a = spark.range(3).toDF("id")
      stage(tmp, Seq("a.parquet" -> a, "b.parquet" -> spark.range(5).toDF("id")))
      stage(tmp, Seq("c.parquet" -> a, "d.parquet" -> a), first = 2)
      val mtimes = Seq("a", "b", "c", "d")
        .map(f => Files.getLastModifiedTime(tmp.resolve(s"$f.parquet")).toMillis)
      assert(mtimes == Seq(1000000L, 1060000L, 1120000L, 1180000L))
      assert(Files.mismatch(tmp.resolve("c.parquet"), tmp.resolve("d.parquet")) == -1L,
        "a replayed frame must be a byte copy of its first file")
      assert(tmp.toFile.list().toSet ==
        Set("a.parquet", "b.parquet", "c.parquet", "d.parquet"))
    } finally new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
  }

  test("a drain whose query throws rethrows and drops its staging dir") {
    val tmp = newStaging("stream_drain_spec_fail")
    stage(tmp, Seq("a.parquet" -> spark.range(3).toDF("id")))
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException("stream drain spec boom")
      id
    })
    val e = intercept[StreamingQueryException] {
      drain("stream_drain_spec_fail", OutputMode.Append(), Some(tmp)) {
        spark.readStream.schema(spark.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString).select(boom(col("id")).as("id"))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("stream drain spec boom"))), e)
    assert(!Files.exists(tmp), s"staging dir $tmp survived a failed drain")
  }

  test("no stream query, mtime pin or trigger outside the stage and drain helpers") {
    val sites = Seq("""\.\s*writeStream\b""", """\bsetLastModifiedTime\b""",
      """\bTrigger\s*\.\s*AvailableNow\b""").map(_.r)
    // string literals are kept as they are; comments are blanked
    val lexeme = """"{3}[\s\S]*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\])'|/\*[\s\S]*?\*/|//[^\n]*""".r
    def code(src: String): String = lexeme.replaceAllIn(src, m =>
      java.util.regex.Matcher.quoteReplacement(
        if (m.matched.startsWith("/")) "" else m.matched))
    // the two helpers, each up to the next member of EventStreams
    val helper = """(?m)^  (?:private(?:\[\w+\])? )?def (?:stage|drain)\b""".r
    val member = """(?m)^  (?=[^ }\n])""".r
    def withoutHelpers(c: String): String =
      helper.findFirstMatchIn(c) match {
        case None => c
        case Some(m) =>
          val end = member.findFirstMatchIn(c.substring(m.end)).fold(c.length)(m.end + _.start)
          withoutHelpers(c.substring(0, m.start) + c.substring(end))
      }
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val offenders = files.flatMap { p =>
      val c = code(Files.readString(p))
      val rest = if (p.getFileName.toString == "EventStreams.scala") withoutHelpers(c) else c
      sites.map(r => r -> r.findAllMatchIn(rest).size).collect {
        case (r, n) if n > 0 => s"$p: $n x /$r/"
      }
    }
    assert(offenders.isEmpty,
      s"stream lifecycle outside EventStreams.stage/drain: ${offenders.mkString("; ")}")
  }
}
