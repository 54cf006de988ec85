package graft.functions

import graft.SparkTestBase
import graft.kernel.Slug
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkTestBase {

  test("SlugExpression matches the kernel on goldens and unicode") {
    import spark.implicits._
    val names = Seq("Alan Bean", "José García", "Björk Guðmundsdóttir",
      "AT&T Corporation", "O'Reilly Media", "MIT", "", "  spaces  ")
    val out = names.toDF("name")
      .select(SlugExpression.slug(col("name")).as("s"))
      .collect().map(_.getString(0))
    assert(out.toSeq == names.map(Slug.slug))
  }

  test("SlugExpression handles null without evaluating") {
    import spark.implicits._
    val out = Seq(Some("Alan Bean"), None).toDF("name")
      .select(SlugExpression.slug(col("name"))).collect()
    assert(out(0).getString(0) == "alan_bean")
    assert(out(1).isNullAt(0))
  }

  test("JaroWinklerExpression matches the kernel incl. the published golden") {
    import spark.implicits._
    val pairs = Seq(("martha", "marhta"), ("acme corp", "acme corp"),
      ("acme corporation", "acme corp"), ("", ""), ("abc", ""))
    val out = pairs.toDF("a", "b")
      .select(JaroWinklerExpression.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().map(_.getDouble(0))
    assert(out.toSeq == pairs.map { case (a, b) => graft.kernel.Jaro.jaroWinkler(a, b) })
    assert(math.abs(out(0) - 0.9611111111) < 1e-6)
    // null propagation without evaluation
    val n = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(JaroWinklerExpression.jaroWinkler(col("a"), col("b"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("jaro_winkler is registered for SQL and stays in codegen (no ScalaUDF)") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "jaro_winkler", GraftExtensions.jaroWinklerFunction._3, "built-in")
    val df = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS jw")
    assert(math.abs(df.head().getDouble(0) - 0.9611111111) < 1e-6)
    assert(!df.queryExecution.executedPlan.toString.contains("ScalaUDF"))
  }

  test("fuzzy linking plan uses the native expression, not a ScalaUDF") {
    import spark.implicits._
    val surfaces = Seq("Acme Corporation").toDF("surface")
    val df = graft.pipeline.Pipeline.linkSurfaces(surfaces, graft.pipeline.Corpus.kb(spark, 50))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), "fuzzy scoring should be the native expression")
    assert(plan.toLowerCase.contains("jaro_winkler"), plan.take(600))
  }

  test("LowerExpression returns what Spark's lower returns, null included") {
    import spark.implicits._
    // ASCII, Latin-1, dotted capital I, capital sharp s, a word-final
    // sigma, a supplementary-plane capital (Deseret) and null
    val words = Seq(Some("Acme CORP 42"), Some("ÉCOLE Ñandú ÅÆØ"), Some("İstanbul"),
      Some("GROẞE"), Some("ΟΔΥΣΣΕΥΣ ΚΑΙ"), Some("\ud801\udc00BC"), Some(""), None)
    val df = words.toDF("w")
    def run(c: org.apache.spark.sql.Column) = df.select(c).collect().map(r => Option(r.getString(0))).toSeq
    val native = run(LowerExpression.lower(col("w")))
    assert(native == run(lower(col("w"))))
    assert(native.last.isEmpty)
    assert(native(4).contains("οδυσσευς και")) // the word-final sigma is final
    assert(native(5).contains("\ud801\udc28bc"))
  }

  test("the link plan lower-cases surfaces natively: no lower(, no ScalaUDF") {
    import spark.implicits._
    // read back from parquet: a local relation would be constant-folded
    val dir = tempDir("graft_fn")
    Seq("Acme Corporation", "ÉCOLE").toDF("surface").write.parquet(s"$dir/s")
    val df = graft.pipeline.Pipeline.linkSurfaces(spark.read.parquet(s"$dir/s"),
      graft.pipeline.Corpus.kb(spark, 50))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("lower("), plan.take(2000))
    assert(!plan.contains("ScalaUDF"), plan.take(2000))
    assert(plan.contains("lowercase("), plan.take(2000))
  }

  test("slug is registered for SQL via extensions and stays in codegen") {
    // register on the shared session the same way the extension does
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "slug", GraftExtensions.slugFunction._3, "built-in")
    val df = spark.sql("SELECT slug('José García') AS s")
    assert(df.head().getString(0) == "jose_garcia")
    // the expression must appear as a native call, not a ScalaUDF
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
