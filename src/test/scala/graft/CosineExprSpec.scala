package graft

import org.apache.spark.sql.functions._

import graft.functions.{Embed, VectorOps}
import graft.functions.expr.CosineSimilarity

class CosineExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pairs = {
    val rnd = new scala.util.Random(11)
    (0 until 200).map { i =>
      val a = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val b = if (i % 17 == 0) Array.fill(64)(0.0) else Array.fill(64)(rnd.nextDouble() * 2 - 1)
      (i, a.toSeq, b.toSeq)
    }.toDF("id", "a", "b")
  }

  test("native expression is bit-identical to the HOF formulation and scala impl") {
    val both = pairs.select($"id", $"a", $"b",
        CosineSimilarity($"a", $"b").as("fast"),
        VectorOps.cosineHof($"a", $"b").as("hof"))
      .collect()
    both.foreach { r =>
      val fast = r.getDouble(3)
      val hof = r.getDouble(4)
      assert(fast === hof, s"row ${r.getInt(0)}")
      val scala = Embed.cosine(r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)
      assert(fast === scala)
    }
  }

  test("DotProduct expression is bit-identical to the HOF dot (pre-normalized cosine path)") {
    val normed = pairs.select($"id",
        VectorOps.normalize($"a").as("na"), VectorOps.normalize($"b").as("nb"))
      .select($"id",
        graft.functions.expr.DotProduct($"na", $"nb").as("fast"),
        VectorOps.dot($"na", $"nb").as("hof"))
      .collect()
    normed.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row ${r.getInt(0)}")
    }
  }

  test("null ELEMENT poisons the result to null, matching the HOF semantics") {
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))))
      .toDF("a", "b")
    val r = df.select(
      CosineSimilarity($"a", $"b").as("cos"),
      graft.functions.expr.DotProduct($"a", $"b").as("dot"),
      VectorOps.cosineHof($"a".cast("array<double>"), $"b".cast("array<double>")).as("hof"))
      .first()
    assert(r.isNullAt(0), "cosine expr must return null on a null element")
    assert(r.isNullAt(1), "dot expr must return null on a null element")
    assert(r.isNullAt(2), "HOF reference semantics: null element -> null")
  }

  test("zero-norm guard and null propagation") {
    val z = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(CosineSimilarity($"a", $"b")).first().getDouble(0)
    assert(z === 0.0)
    val n = Seq((None: Option[Seq[Double]], Some(Seq(1.0)))).toDF("a", "b")
      .select(CosineSimilarity($"a", $"b")).first()
    assert(n.isNullAt(0))
  }

  test("float arrays are accepted via cast (embeddings table shape)") {
    val f = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
      .select(CosineSimilarity($"a", $"b")).first().getDouble(0)
    assert(math.abs(f - 1.0) < 1e-15)
  }

  test("DotProduct stays inside whole-stage codegen (retrieval scoring hot path)") {
    val df = spark.range(100)
      .withColumn("a", array((0 until 8).map(i => rand(i).cast("double")): _*))
      .withColumn("b", array((0 until 8).map(i => rand(i + 100).cast("double")): _*))
    val plan = df.select(graft.functions.expr.DotProduct($"a", $"b").as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*(1) Project [dot_product"), plan)
    assert(!plan.contains("lambdafunction"), plan)
  }

  test("non-nullable arrays compile under CODEGEN_ONLY (no `false = true;` emission)") {
    // both children non-nullable AND containsNull=false → nullable=false →
    // nullSafeCodeGen binds ev.isNull to FalseLiteral; the generated code
    // must not assign to it (would be a Janino error → interpreted fallback)
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.wholeStage" -> "false") {
      val df = spark.range(50)
        .withColumn("a", array((0 until 4).map(i => rand(i).cast("double")): _*))
        .withColumn("b", array((0 until 4).map(i => rand(i + 9).cast("double")): _*))
      val rows = df.select(CosineSimilarity($"a", $"b").as("c"),
        graft.functions.expr.DotProduct($"a", $"b").as("d")).collect()
      assert(rows.length === 50)
      assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    }
  }

  test("expression stays inside whole-stage codegen (no interpreted lambdas)") {
    // runtime source (range) so the projection isn't constant-folded away
    val df = spark.range(100)
      .withColumn("a", array((0 until 8).map(i => rand(i).cast("double")): _*))
      .withColumn("b", array((0 until 8).map(i => rand(i + 100).cast("double")): _*))
    val plan = df.select(CosineSimilarity($"a", $"b").as("c"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.next().trim.startsWith("*(1) Project [cosine_similarity"), plan)
    assert(!plan.contains("lambdafunction"), plan)
  }
}
