package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MinMaxVecAgg's melt-equivalence certification: the kernel must
  * reproduce `posexplode → groupBy(dim).agg(min, max) → collect` on
  * every shape the explode handles — uniform rows, ragged rows (a
  * short row contributes to its own dims only), null arrays (ignored
  * whole), null elements (ignored per dim), and a dim no row ever
  * filled with a non-null value (null slot in the output arrays). */
class MinMaxVecSpec extends SparkSpec {
  import spark.implicits._

  private def meltModel(rows: Seq[Seq[Option[Double]]]): (Seq[Option[Double]], Seq[Option[Double]]) = {
    val byDim = rows.flatMap(_.zipWithIndex.map { case (v, i) => i -> v })
      .groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
    val n = if (byDim.isEmpty) 0 else byDim.keys.max + 1
    ((0 until n).map(i => byDim.get(i).filter(_.nonEmpty).map(_.min)),
      (0 until n).map(i => byDim.get(i).filter(_.nonEmpty).map(_.max)))
  }

  private def kernel(df: org.apache.spark.sql.DataFrame): (Seq[Option[Double]], Seq[Option[Double]]) = {
    val r = df.repartition(5).groupBy().agg(MinMaxVec(col("emb")).as("mm"))
      .select(col("mm.mins"), col("mm.maxs")).collect().head
    def opt(s: Seq[Any]): Seq[Option[Double]] =
      s.map(v => Option(v).map(_.asInstanceOf[Double]))
    (opt(r.getSeq[Any](0)), opt(r.getSeq[Any](1)))
  }

  test("matches the posexplode melt on randomized uniform vectors") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(200)(Seq.fill(16)(Some(rnd.nextDouble() * 2 - 1)))
    val df = rows.map(_.map(_.get)).toDF("emb")
    assert(kernel(df) == meltModel(rows))
  }

  test("ragged rows contribute to their own dims only (explode semantics)") {
    val rows = Seq(
      Seq(Some(5.0), Some(1.0)),
      Seq(Some(2.0)),
      Seq(Some(9.0), Some(0.5), Some(-3.0)))
    val df = rows.map(_.map(_.get)).toDF("emb")
    assert(kernel(df) == meltModel(rows))
    assert(kernel(df)._1 == Seq(Some(2.0), Some(0.5), Some(-3.0)))
  }

  test("null arrays are ignored whole; null elements per dim; " +
      "an all-null dim emits a null slot") {
    val df = Seq(
      Some(Seq(Some(1.0), None, Some(3.0))),
      None,
      Some(Seq(Some(4.0), None))
    ).toDF("emb")
    val rows = Seq(Seq(Some(1.0), None, Some(3.0)), Seq(Some(4.0), None))
    assert(kernel(df) == meltModel(rows))
    assert(kernel(df)._1(1).isEmpty, "all-null dim must stay null")
  }

  test("empty input yields empty arrays (the melt's empty collect)") {
    val df = Seq.empty[Seq[Double]].toDF("emb")
    val r = df.groupBy().agg(MinMaxVec(col("emb")).as("mm"))
      .select(col("mm.mins"), col("mm.maxs")).collect().head
    assert(r.getSeq[Any](0).isEmpty && r.getSeq[Any](1).isEmpty)
  }

  test("float arrays aggregate through exact float->double casts") {
    val rnd = new scala.util.Random(9)
    val rows = Seq.fill(50)(Seq.fill(8)(rnd.nextFloat()))
    val f = kernel(rows.toDF("emb"))
    val d = kernel(rows.map(_.map(_.toDouble)).toDF("emb"))
    assert(f == d)
  }

  test("NaN follows Spark's order, like the posexplode/min/max twin, " +
      "under both codegen and interpreted eval") {
    // a NaN seen first must not stick as the minimum: NaN sorts above
    // every double, so it is the max of its dim and the min only of an
    // all-NaN dim
    val nan = Double.NaN
    val df = Seq(
      Seq(nan, 1.0, nan, 2.0),
      Seq(3.0, nan, nan, -1.0),
      Seq(-2.0, 0.5, nan, Double.PositiveInfinity)
    ).toDF("emb").coalesce(1)
    def twin(): Seq[(Double, Double)] =
      df.select(posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("dim").agg(min("v"), max("v")).orderBy("dim")
        .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    // one partition exercises put; three exercise mergeFrom too
    def mm(d: org.apache.spark.sql.DataFrame): Seq[(Double, Double)] = {
      val r = d.groupBy().agg(MinMaxVec(col("emb")).as("mm"))
        .select(col("mm.mins"), col("mm.maxs")).collect().head
      r.getSeq[Double](0).zip(r.getSeq[Double](1))
    }
    // java.lang.Double equality: NaN equals NaN, which `==` denies
    def same(a: Seq[(Double, Double)], b: Seq[(Double, Double)]) =
      a.size == b.size && a.zip(b).forall { case ((x1, y1), (x2, y2)) =>
        x1.equals(x2) && y1.equals(y2)
      }
    val expected = Seq((-2.0, nan), (0.5, nan), (nan, nan),
      (-1.0, Double.PositiveInfinity))
    val conf = spark.conf
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    try {
      Seq("CODEGEN_ONLY" -> "false", "NO_CODEGEN" -> "true").foreach { case (mode, fallback) =>
        conf.set("spark.sql.codegen.fallback", fallback)
        conf.set("spark.sql.codegen.factoryMode", mode)
        val want = twin()
        assert(same(want, expected), s"$mode: twin $want")
        Seq(df, df.repartition(3)).foreach { d =>
          val got = mm(d)
          assert(same(got, want), s"$mode: kernel $got vs twin $want")
        }
      }
    } finally {
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(
        conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(
        conf.set("spark.sql.codegen.factoryMode", _))
    }
  }
}
