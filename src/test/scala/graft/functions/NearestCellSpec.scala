package graft.functions

import graft.SparkSpec
import graft.ops.Relational.r4
import graft.ops.Similarity
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `nearest_cell` against the higher-order-function column it
  * replaced, kept here as the twin (with a null `emb` mapped to null):
  * equal values and equal result type for every case, under generated
  * code and under interpreted evaluation. */
class NearestCellSpec extends SparkSpec {

  /** The composable twin: array_max over struct(r4 cosine, -cell),
    * null for a null emb. */
  private def hof(cents: Column, emb: Column): Column =
    when(emb.isNull, null).otherwise(array_max(transform(cents, c =>
      struct(r4(Similarity.cosine(emb, c("cemb"))).as("s"), (-c("cell")).as("nc")))))

  /** A centroid: `cell` and `cemb` may each be null. */
  private case class Cent(cell: Any, cemb: Seq[Any])
  /** One input row: `cents` null or a list whose elements may be null;
    * `emb` null or a vector whose elements may be null. */
  private case class In(name: String, cents: Seq[Cent], emb: Seq[Any])

  private val nan = Double.NaN
  private val cases: Seq[In] = Seq(
    In("plain", Seq(Cent(2, Seq(1.0, 0.0)), Cent(0, Seq(0.0, 1.0)),
      Cent(1, Seq(0.6, 0.8))), Seq(0.5, 0.9)),
    // NaN cosine: r4's BIGINT floor makes it 0.0, which beats -0.6
    In("nan in emb", Seq(Cent(0, Seq(-1.0, -1.0)), Cent(1, Seq(1.0, 1.0))),
      Seq(nan, 1.0)),
    In("nan in cemb beats a negative", Seq(Cent(0, Seq(-1.0, -0.2)),
      Cent(1, Seq(nan, 0.0))), Seq(1.0, 0.5)),
    In("nan in cemb loses to a positive", Seq(Cent(1, Seq(nan, 0.0)),
      Cent(5, Seq(1.0, 0.2))), Seq(1.0, 0.5)),
    // ±0.0 and zero norms
    In("signed zeros in emb", Seq(Cent(3, Seq(0.0, 1.0)), Cent(4, Seq(1.0, 0.0))),
      Seq(-0.0, 1.0)),
    In("zero-norm emb", Seq(Cent(3, Seq(0.0, 1.0)), Cent(2, Seq(1.0, 0.0))),
      Seq(0.0, -0.0)),
    In("zero-norm cemb", Seq(Cent(0, Seq(-0.0, 0.0)), Cent(1, Seq(-1.0, 0.0))),
      Seq(1.0, 0.0)),
    In("all zero-norm cembs", Seq(Cent(7, Seq(0.0, 0.0)), Cent(6, Seq(-0.0, 0.0))),
      Seq(1.0, 0.0)),
    // nulls
    In("null emb", Seq(Cent(5, Seq(1.0, 0.0)), Cent(3, Seq(0.0, 1.0)),
      Cent(9, Seq(1.0, 1.0))), null),
    In("null element in emb", Seq(Cent(1, Seq(1.0, 0.0))), Seq(null, 1.0)),
    In("null cemb", Seq(Cent(0, null), Cent(4, Seq(-1.0, 0.0))), Seq(1.0, 0.0)),
    In("null element in cemb", Seq(Cent(0, Seq(1.0, null)),
      Cent(4, Seq(-1.0, 0.0))), Seq(1.0, 0.0)),
    In("null element in cents", Seq(null, Cent(4, Seq(-1.0, 0.0))), Seq(1.0, 0.0)),
    In("only null elements in cents", Seq(null, null), Seq(1.0, 0.0)),
    In("null cell", Seq(Cent(null, Seq(1.0, 0.0)), Cent(4, Seq(0.0, 1.0))),
      Seq(1.0, 0.0)),
    In("null cell ties a real cell", Seq(Cent(null, Seq(1.0, 0.0)),
      Cent(4, Seq(1.0, 0.0))), Seq(1.0, 0.0)),
    In("null cell and null emb", Seq(Cent(null, Seq(1.0, 0.0)), null,
      Cent(8, Seq(1.0, 0.0))), null),
    In("empty cents", Seq(), Seq(1.0, 0.0)),
    In("null cents", null, Seq(1.0, 0.0)),
    In("null cents and null emb", null, null),
    // the common prefix when lengths differ
    In("longer emb", Seq(Cent(0, Seq(1.0, 0.0)), Cent(1, Seq(0.0, 1.0))),
      Seq(0.2, 0.9, 50.0)),
    In("longer cemb", Seq(Cent(0, Seq(1.0, 0.0, 9.0)), Cent(1, Seq(0.0, 1.0))),
      Seq(0.9, 0.2)),
    In("empty emb", Seq(Cent(2, Seq(1.0)), Cent(1, Seq(0.5))), Seq()),
    // exact ties at r4 precision: the lowest cell wins whatever its
    // place in the array and its unrounded cosine
    In("exact tie", Seq(Cent(7, Seq(1.0, 0.0)), Cent(3, Seq(2.0, 0.0)),
      Cent(5, Seq(1.0, 0.0))), Seq(1.0, 0.0)),
    In("tie after rounding", Seq(Cent(7, Seq(1.0, 0.0)),
      Cent(3, Seq(1.0, 0.00001))), Seq(1.0, 0.0)),
    In("negative cells", Seq(Cent(-2, Seq(1.0, 0.0)), Cent(-9, Seq(1.0, 0.0)),
      Cent(4, Seq(1.0, 0.0))), Seq(1.0, 0.0)))

  /** Seeded random rows: 16 centroids (some duplicated under another
    * cell, so exact ties occur) against 64 vectors. */
  private val random: Seq[In] = {
    val rnd = new scala.util.Random(7)
    def vec(d: Int): Seq[Any] = Seq.fill(d)(rnd.nextGaussian())
    val base = (0 until 12).map(c => Cent(c, vec(8)))
    val cents = rnd.shuffle(base ++ base.take(4).map(c =>
      Cent(c.cell.asInstanceOf[Int] + 100, c.cemb)))
    (0 until 64).map(i => In(s"random $i", cents,
      if (i % 8 == 0) base(i % 12).cemb else vec(8)))
  }

  private def frame(rows: Seq[In], cellLong: Boolean, cembFloat: Boolean,
      embFloat: Boolean): DataFrame = {
    def num(x: Any, float: Boolean): Any = x match {
      case null      => null
      case d: Double => if (float) d.toFloat else d
    }
    def vec(v: Seq[Any], float: Boolean): Any =
      if (v == null) null else v.map(num(_, float))
    val cellType = if (cellLong) LongType else IntegerType
    def elem(float: Boolean) = if (float) FloatType else DoubleType
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("cents", ArrayType(StructType(Seq(
        StructField("cell", cellType),
        StructField("cemb", ArrayType(elem(cembFloat))))))),
      StructField("emb", ArrayType(elem(embFloat)))))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row(i,
        if (r.cents == null) null
        else r.cents.map {
          case null => null
          case Cent(cell, cemb) => Row(
            cell match {
              case null   => null
              case c: Int => if (cellLong) c.toLong else c
            },
            vec(cemb, cembFloat))
        },
        vec(r.emb, embFloat))
    }
    // through an exchange, so the projection is planned above a
    // shuffle read (whole-stage codegen, unsafe arrays) rather than
    // folded into a local relation at optimization time
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .repartition(3)
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    try { kv.foreach { case (k, v) => conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  private val modes = Seq(
    "CODEGEN_ONLY" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** (id → (kernel, hof)) under one mode, plus the two result types. */
  private def run(df: DataFrame): (Map[Int, (Row, Row)], DataType, DataType) = {
    val out = df.select(col("id"),
      NearestCell(col("cents"), col("emb")).as("k"),
      hof(col("cents"), col("emb")).as("h"))
    (out.collect().map(r => r.getInt(0) -> (r.getStruct(1), r.getStruct(2))).toMap,
      out.schema("k").dataType, out.schema("h").dataType)
  }

  private val variants = for {
    cellLong <- Seq(false, true)
    cembFloat <- Seq(false, true)
    embFloat <- Seq(false, true)
  } yield (cellLong, cembFloat, embFloat)

  for ((cellLong, cembFloat, embFloat) <- variants) {
    val label = s"cell ${if (cellLong) "long" else "int"}, " +
      s"cemb ${if (cembFloat) "float" else "double"}, " +
      s"emb ${if (embFloat) "float" else "double"}"
    test(s"nearest_cell equals the HOF on every edge case ($label)") {
      val rows = cases ++ random
      val df = frame(rows, cellLong, cembFloat, embFloat)
      val byMode = modes.map { case (mode, conf) =>
        val (got, kt, ht) = withConf(conf: _*)(run(df))
        assert(kt == ht, s"$mode: result type ${kt.simpleString} vs ${ht.simpleString}")
        assert(got.size == rows.size)
        rows.indices.foreach { i =>
          val (k, h) = got(i)
          assert(k == h, s"$mode, ${rows(i).name}: kernel $k, HOF $h")
        }
        got
      }
      assert(byMode.distinct.size == 1, "the two modes disagree")
    }
  }

  test("pinned values: NaN, null emb, empty and null cents, ties") {
    val df = frame(cases, cellLong = true, cembFloat = false, embFloat = false)
    val got = run(df)._1.map { case (i, (k, _)) => cases(i).name -> k }
    assert(got("nan in emb") == Row(0.0, -0L))
    assert(got("nan in cemb beats a negative") == Row(0.0, -1L))
    assert(got("nan in cemb loses to a positive") ==
      Row(modelR4(modelCosD(Array(1.0, 0.5), Array(1.0, 0.2))), -5L))
    // a row with no vector has no nearest cell
    assert(got("null emb") == null && got("null cell and null emb") == null)
    assert(got("zero-norm emb") == Row(null, -2L))
    assert(got("only null elements in cents") == Row(null, null))
    assert(got("empty cents") == null && got("null cents") == null)
    assert(got("exact tie") == Row(1.0, -3L))
    assert(got("tie after rounding") == Row(1.0, -3L))
    assert(got("negative cells") == Row(1.0, 9L))
  }

  test("a wrong input type fails with an AnalysisException when the frame is built") {
    val df = spark.range(1).select(
      array(struct(lit(1L).as("cell"), array(lit(1.0)).as("cemb"))).as("ok"),
      array(struct(lit("a").as("cell"), array(lit(1.0)).as("cemb"))).as("strCell"),
      array(struct(lit(1.0).as("cell"), array(lit(1.0)).as("cemb"))).as("dblCell"),
      array(struct(lit(1L).as("cell"), array(lit(1)).as("cemb"))).as("intCemb"),
      array(struct(lit(1L).as("cell"))).as("noCemb"),
      array(lit(1.0)).as("emb"),
      array(lit(1)).as("intEmb"),
      lit(1.0).as("scalar"))
    for ((cents, emb) <- Seq("strCell" -> "emb", "dblCell" -> "emb",
        "intCemb" -> "emb", "noCemb" -> "emb", "ok" -> "intEmb",
        "ok" -> "scalar", "scalar" -> "emb")) {
      val e = intercept[AnalysisException] {
        df.select(NearestCell(col(cents), col(emb)))
      }
      assert(e.getMessage.contains("nearest_cell"), s"$cents, $emb: ${e.getMessage}")
    }
    assert(df.select(NearestCell(col("ok"), col("emb"))).head.getStruct(0) == Row(1.0, -1L))
  }

  test("the cell negation overflows as UnaryMinus does: raises under ANSI, wraps without") {
    def frameOf = frame(Seq(In("min", Seq(Cent(Int.MinValue, Seq(1.0, 0.0))),
      Seq(1.0, 0.0))), cellLong = false, cembFloat = false, embFloat = false)
    withConf("spark.sql.ansi.enabled" -> "true") {
      val df = frameOf
      val k = df.select(NearestCell(col("cents"), col("emb")))
      val h = df.select(hof(col("cents"), col("emb")))
      for (q <- Seq(k, h)) {
        val e = intercept[Exception](q.collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(chain.contains("ARITHMETIC_OVERFLOW"), chain)
      }
    }
    withConf("spark.sql.ansi.enabled" -> "false") {
      val (got, _, _) = run(frameOf)
      assert(got(0)._1 == got(0)._2 && got(0)._1 == Row(1.0, Int.MinValue))
    }
  }
}
