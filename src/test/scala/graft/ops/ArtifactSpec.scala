package graft.ops

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted-artifact layer through its nine public ensures: the
  * addresses a populated warehouse is found at, and the crash contract
  * of the two artifacts written in two parts. */
class ArtifactSpec extends SparkSpec {

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("the nine ensures return today's addresses, each with its marker") {
    // written out by hand: a change to any of these strings orphans
    // every tree a deployed warehouse holds (the Artifact migration
    // note), so it has to be made here on purpose
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val tag = Artifacts.dirTag(sf0001)
    val emb = Artifacts.contentStamp(spark, sf0001, "embeddings")
    val docs = Artifacts.contentStamp(spark, sf0001, "documents")
    val ivf = s"$wh/graft_ivf_index/$tag/st$emb"
    val nl = Dedup.resolvedNlist(spark, 0)
    val cv = TextAnalysis.classifierVocabSize(spark)
    val cases = Seq[(String, () => String, String, String)](
      ("ensureIvfIndex", () => Similarity.ensureIvfIndex(spark, sf0001),
        s"$ivf/main_v2_nl32", ""),
      ("ensureCompactedIvfIndex",
        () => Similarity.ensureCompactedIvfIndex(spark, sf0001),
        s"$ivf/compact_v2_nl32", ""),
      ("ensureTrainedIvfIndex",
        () => Similarity.ensureTrainedIvfIndex(spark, sf0001),
        s"$ivf/trained_v2_cbv1_nl32_it2", ""),
      ("ensureCompactedTrainedIvfIndex",
        () => Similarity.ensureCompactedTrainedIvfIndex(spark, sf0001),
        s"$ivf/trained_v2_cbv1_nl32_it2_compact", ""),
      ("ensureCodebook", () => Similarity.ensureCodebook(spark, sf0001),
        s"$wh/graft_codebook/v1/$tag/nl32_it2_st$emb", ""),
      ("ensureSemanticIndex",
        () => Similarity.ensureSemanticIndex(spark, sf0001),
        s"$wh/graft_semantic_index/${tag}_nl${nl}_it2_st$emb", "/codebook"),
      ("ensureBigramLmModel", () => TextAnalysis.ensureBigramLmModel(
          spark, sf0001, TextAnalysis.lmVocabDefault),
        s"$wh/graft_bigram_lm/v1/$tag/vs${TextAnalysis.lmVocabDefault}_st$docs", ""),
      ("ensureBpeModel", () => TextAnalysis.ensureBpeModel(spark, sf0001),
        s"$wh/graft_bpe_model/v1/$tag/r6_st$docs", "/vocab"),
      ("ensureQualityModel",
        () => TextAnalysis.ensureQualityModel(spark, sf0001),
        s"$wh/graft_quality_model/v2/$tag/mw50_100000_cv${cv}_st$docs", ""))
    cases.foreach { case (name, ensure, expected, lastPart) =>
      assert(ensure() == expected, s"$name moved its address")
      assert(fs.exists(new Path(s"$expected$lastPart/_SUCCESS")),
        s"$name left no marker at $expected$lastPart")
    }
    assert(TextAnalysis.qualityModelPath(spark, sf0001) == cases.last._3)
  }

  test("a two-part artifact whose last part lost its marker is rebuilt " +
    "at the same root and serves what a fresh training gives") {
    val nl = Dedup.resolvedNlist(spark, 0)
    def rows(df: DataFrame): List[String] =
      df.collect().map(_.toSeq.map {
        case a: Seq[_] => a.toList.toString
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toList
    // the persisted member table reads `cell` back as its last column
    def members(index: (DataFrame, DataFrame)) =
      Seq(index._1.select("cell", "match_id", "emb_a"),
        index._2.select(explode(col("cents"))))
    // (name, ensure, last part, served frames, freshly trained frames)
    val cases = Seq[(String, () => String, String, String => Seq[DataFrame],
        () => Seq[DataFrame])](
      ("ensureBpeModel", () => TextAnalysis.ensureBpeModel(spark, sf0001),
        "vocab",
        _ => { val (m, v) = TextAnalysis.bpeTrain(spark, sf0001, 6); Seq(m, v) },
        () => { val (m, v) = TextAnalysis.trainBpeFrames(spark, sf0001, 6); Seq(m, v) }),
      ("ensureSemanticIndex",
        () => Similarity.ensureSemanticIndex(spark, sf0001), "codebook",
        root => members(Similarity.readSemanticIndex(spark, root)),
        () => members(Similarity.semanticIndex(spark, sf0001, nl, 2))))
    cases.foreach { case (name, ensure, lastPart, served, fresh) =>
      val root = ensure()
      val marker = new Path(s"$root/$lastPart/_SUCCESS")
      // the state a crash after the first write leaves behind
      assert(fs.delete(marker, false), s"$name had no marker to delete")
      assert(ensure() == root, s"$name moved its root on rebuild")
      assert(fs.exists(marker), s"$name did not rebuild its last part")
      served(root).zip(fresh()).foreach { case (a, b) =>
        assert(rows(a) == rows(b), s"$name serves frames a fresh training does not give")
      }
    }
  }
}
