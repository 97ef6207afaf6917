package graft.ops

import org.apache.spark.sql.SparkSession

/** One persisted artifact: its address and the ONE ensure body every
  * artifact goes through. The address is
  * `<warehouse>/<root>[/<version>]/<corpus tag><generation>st<stamp>[/<leaf>]`,
  * where the corpus tag is [[Artifacts.dirTag]] and the stamp is the
  * source `table`'s [[Artifacts.contentStamp]]: every training
  * hyperparameter sits in `generation` or `leaf` (an artifact built at
  * other settings is a DIFFERENT artifact), the format version in
  * `version` or the leaf name (the warehouse outlives code), and the
  * stamp moves when the corpus is re-derived in place.
  *
  * | root | ensure | generation · leaf | queries that read it |
  * |---|---|---|---|
  * | `graft_ivf_index/` | `Similarity.ensureIvfIndex` · `ensureCompactedIvfIndex` | `/` · `main_v2_nl<n>` · `compact_v2_nl<n>` | s11 s22 s26–s30 |
  * | `graft_ivf_index/` | `Similarity.ensureTrainedIvfIndex` · `ensureCompactedTrainedIvfIndex` | `/` · `trained_v2_cbv1_nl<n>_it<i>[_compact]` | s33–s37 |
  * | `graft_codebook/v1/` | `Similarity.ensureCodebook` | `/nl<n>_it<i>_` | s06 s07 s13 s31–s37 d12 d13 c13 |
  * | `graft_semantic_index/` | `Similarity.ensureSemanticIndex` | `_nl<n>_it<i>_`, last part `codebook` | d18 |
  * | `graft_bigram_lm/v1/` | `TextAnalysis.ensureBigramLmModel` | `/vs<v>_` | t17 t24 c22 c23 |
  * | `graft_bpe_model/v1/` | `TextAnalysis.ensureBpeModel` | `/r<r>_`, last part `vocab` | t18 t19 t20 c20 c22 |
  * | `graft_quality_model/v2/` | `TextAnalysis.ensureQualityModel` | `/mw<a>_<b>_cv<c>_` | t21 t22 t23 c21 c22 |
  *
  * Each reading query calls the ensure while it builds its DataFrame,
  * so a query builds exactly what it reads and a harness needs no
  * set-up list. Migration note, stated not hidden: changing the
  * address scheme (the dirTag hash, a format-version bump) orphans
  * trees written under the OLD scheme — the sweeps operate within one
  * address's parent, so prior-scheme directories are never matched
  * and never deleted. A deployment upgrading across a scheme change
  * prunes the seven roots above by age out-of-band, once.
  *
  * @param lastPart the sub-directory a multi-part build writes LAST:
  *   its `_SUCCESS` certifies the whole build (a crash between the
  *   writes leaves no marker, and the next ensure rebuilds). */
private[graft] final case class Artifact(root: String, version: Option[String],
    table: String, generation: String, leaf: Option[String] = None,
    lastPart: Option[String] = None) {

  private def rootDir(s: SparkSession): String =
    (Seq(s.conf.get("spark.sql.warehouse.dir"), root) ++ version).mkString("/")

  /** (generation dir, stamp) — one contentStamp walk of the corpus. */
  private def generationDir(s: SparkSession, dir: String): (String, String) = {
    val stamp = Artifacts.contentStamp(s, dir, table)
    (s"${rootDir(s)}/${Artifacts.dirTag(dir)}${generation}st$stamp", stamp)
  }

  private def at(gen: String): String = leaf.fold(gen)(l => s"$gen/$l")

  /** The address, without building anything. */
  def path(s: SparkSession, dir: String): String = at(generationDir(s, dir)._1)

  /** The idempotent build: sweep superseded corpus generations (the
    * siblings whose name shares this generation's, stamp removed — an
    * in-place re-derivation would otherwise leave the old tree behind
    * forever) and, where the address carries a version, superseded
    * versions (a format bump orphans the prior version's whole tree;
    * one predecessor is retained for a lazy reader still on old code,
    * so at most two versions accumulate); then run `build(path)`
    * unless the `_SUCCESS` marker of the completed build is already
    * there. A build that died BEFORE its marker leaves none, so the
    * next ensure re-runs it; every builder writes with
    * mode("overwrite"), which clears the partial remnants first. Known
    * limit, stated not hidden: exists-then-build is per-session
    * idempotence, not a cross-session lock — two sessions racing the
    * SAME cold address both build (the overwrite keeps the layout
    * consistent; the loser's work is wasted, not wrong). A deployment
    * wanting build-once across concurrent writers puts a coordination
    * layer (a catalog, a lock service) in front; the address scheme is
    * deliberately pure so that layer can be added without touching any
    * reader. */
  def ensure(s: SparkSession, dir: String)(build: String => Unit): String = {
    val (gen, stamp) = generationDir(s, dir)
    Artifacts.sweepSuperseded(s, gen,
      new org.apache.hadoop.fs.Path(gen).getName.stripSuffix(stamp))
    if (version.isDefined) Artifacts.sweepSuperseded(s, rootDir(s), "v")
    val path = at(gen)
    val marker = new org.apache.hadoop.fs.Path(
      (Seq(path) ++ lastPart :+ "_SUCCESS").mkString("/"))
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) build(path)
    path
  }
}

/** The address and sweep primitives under every [[Artifact]]. */
private[graft] object Artifacts {
  /** The corpus CONTENT STAMP every persisted artifact's address must
    * carry (quality model, bigram LM, IVF index), derived from the
    * source table's DATA FILES — max child mtime + total byte length
    * — never the directory status: object stores (s3a://) report a
    * synthetic prefix's mtime as zero/meaningless, so a dir-level
    * stamp degrades the staleness guard to a constant exactly on the
    * deployments that need it, and mtime alone has millisecond
    * granularity, so a re-derivation landing in the same tick would
    * silently keep serving the stale artifact — the byte total
    * breaks that tie for any materially different corpus. Reads
    * through the Hadoop FileSystem API (java.io.File.lastModified
    * has the same silent-zero failure on non-local paths). A missing
    * table raises (an artifact address for data that doesn't exist
    * is a caller bug, not a cache miss). */
  def contentStamp(s: SparkSession, dir: String, table: String): String =
    contentStamp(s, new org.apache.hadoop.fs.Path(dir, s"$table.parquet").toString)

  /** [[contentStamp]] of a table at a full path (a file or a directory
    * of data files). */
  def contentStamp(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p) // raises on a missing table
    if (status.isFile) s"${status.getModificationTime}-${status.getLen}"
    else {
      // RECURSIVE file walk: a partitionBy-written table keeps its
      // data files under key= subdirectories — a top-level listing
      // would see only _SUCCESS and degrade the byte-total tie-break
      // to a constant exactly for partitioned sources. listStatus, not
      // listFiles: the LocatedFileStatus listFiles builds copies each
      // file's permissions, which the local file system without the
      // native Hadoop library reads by forking `ls` once per file
      var maxM = 0L; var totLen = 0L; var n = 0
      def walk(d: org.apache.hadoop.fs.Path): Unit = fs.listStatus(d).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else {
          maxM = math.max(maxM, f.getModificationTime)
          totLen += f.getLen; n += 1
        }
      }
      walk(p)
      // explicit sentinel, NOT the directory's own mtime (the exact
      // dir-level signal this stamp exists to avoid — synthetic on
      // object stores): any two empty generations have identical
      // content, so one shared stamp is semantically right
      if (n == 0) "empty-0"
      else s"$maxM-$totLen"
    }
  }

  /** Sweep superseded content-stamp generations, RETAINING the most
    * recent `retain` of them: deletes siblings of `keep` under its
    * parent whose name shares `prefix`, except `keep` itself and the
    * `retain` newest others (by filesystem mtime). Retention exists
    * because readers resolve paths eagerly and evaluate lazily — a
    * still-running query, or a streaming static side re-read per
    * micro-batch, can hold a path to the generation an in-place
    * corpus re-derivation just superseded; deleting it mid-flight
    * fails that job. One surviving predecessor covers the window (a
    * reader two re-derivations behind is already reading data that
    * was rewritten under it twice); accumulation stays bounded at
    * retain + 1 generations — the bpeTrain-cache discipline for
    * on-disk artifacts. */
  def sweepSuperseded(s: SparkSession, keep: String, prefix: String,
      retain: Int = 1): Unit = {
    val keepPath = new org.apache.hadoop.fs.Path(keep)
    val fs = keepPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parent = keepPath.getParent
    if (fs.exists(parent)) {
      def numSuffix(name: String): Option[Long] = {
        val suffix = name.stripPrefix(prefix)
        if (suffix.nonEmpty && suffix.forall(_.isDigit)) Some(suffix.toLong)
        else None
      }
      val keepNum = numSuffix(keepPath.getName)
      val superseded = fs.listStatus(parent)
        .filter { st =>
          val name = st.getPath.getName
          name.startsWith(prefix) && name != keepPath.getName &&
            // a numerically GREATER sibling is not superseded — it is
            // a newer binary's live tree (version-level sweeps on a
            // mixed fleet: an old binary must never delete v2 because
            // v0's directory mtime happened to be fresher)
            !(keepNum.isDefined && numSuffix(name).exists(_ > keepNum.get))
        }
        // mtime ties within one clock tick (and moves when children
        // are touched) — the secondary sort makes retention
        // deterministic under both. When the suffix after `prefix` is
        // purely numeric (the version-level sweeps: v1, v2, …, v10),
        // compare it AS A NUMBER — reverse-lexicographic name order
        // would rank "v9" above "v10" and retain the OLDER tree on an
        // mtime tie; non-numeric suffixes (content stamps) keep the
        // reverse-lex name fallback unchanged
        .sortBy { st =>
          val name = st.getPath.getName
          val suffix = name.stripPrefix(prefix)
          val num = if (suffix.nonEmpty && suffix.forall(_.isDigit))
            suffix.toLong else -1L
          (-st.getModificationTime, -num, name)
        }(Ordering.Tuple3(Ordering.Long, Ordering.Long,
          Ordering.String.reverse))
      superseded.drop(retain).foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** The corpus-dir component of every artifact address: the
    * path-safe sanitization PLUS a short hash of the RAW dir.
    * Sanitization alone collides (`/a/b` and `/a_b` both map to
    * `_a_b`), leaving two different corpora disambiguated only by
    * their content stamps — the hash retires that class outright.
    * Changing it orphans trees written under the old tag (the
    * [[Artifact]] migration note). */
  def dirTag(dir: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"$safe-$h"
  }
}
