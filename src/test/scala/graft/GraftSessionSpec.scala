package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins [[GraftSession]] as the one builder of engine sessions: the shared
  * test session carries the engine config, and no other source file in
  * the program or its tests builds a session of its own. */
class GraftSessionSpec extends SparkSpec {

  test("a fresh session resolves the extension functions without registration") {
    // newSession() shares the SparkContext but starts from an empty function
    // registry, so only the installed extension can supply these names
    val s = spark.newSession()
    val r = s.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |       null_safe_corr(x, y)
        |FROM VALUES (1.0d, 2.0d), (2.0d, 4.0d), (3.0d, 6.0d) AS t(x, y)""".stripMargin)
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("the session carries the engine-wide config") {
    val conf = spark.newSession().conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.optimizer.excludedRules").split(',').contains(
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
  }

  test("no source file builds a session outside GraftSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r),
      s"$r not found from ${Paths.get("").toAbsolutePath}"))
    def scalaFiles(root: Path): Seq[Path] = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val offenders = roots.flatMap(scalaFiles)
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty,
      s"sessions built outside GraftSession: ${offenders.mkString(", ")}")
  }
}
