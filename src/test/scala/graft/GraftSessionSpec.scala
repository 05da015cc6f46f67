package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Pins the single session factory: no other builder in the sources,
  * and a factory session carries the shared confs and exactly one copy
  * of the graft extensions however often they are registered. */
class GraftSessionSpec extends GraftSpecBase {

  test("GraftSession holds the only session builder call in src/main and src/test") {
    // split so this file does not count itself
    val builderCall = "SparkSession" + ".builder("
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val roots = Seq("src/main", "src/test").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the repository root: $r"))
    val sites = roots.flatMap(scalaFiles).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(builderCall) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
    assert(sites.size == 1, sites.mkString("\n"))
    assert(sites.head.startsWith("src/main/scala/graft/GraftSession.scala:"),
      sites.head)
  }

  test("a factory session carries the shared confs and the graft extensions once") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.CodegenCacheEntries == 4096)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("vec_dot")))
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    val rules = spark.experimental.extraOptimizations
    assert(rules.filter(GraftExtensions.optimizerRules.contains) ==
      GraftExtensions.optimizerRules)
    val strategies = spark.experimental.extraStrategies
    assert(strategies.filter(GraftExtensions.strategies.contains) ==
      GraftExtensions.strategies)
  }

  test("a child session gets the extensions through its first table read") {
    val child = spark.newSession()
    assert(!child.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("vec_dot")))
    Tables.region(child, sf)
    assert(child.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("vec_dot")))
    assert(child.experimental.extraOptimizations ==
      GraftExtensions.optimizerRules)
  }
}
