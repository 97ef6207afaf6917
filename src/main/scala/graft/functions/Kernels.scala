package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** ONE kernel manifest — the single enrollment point for every native
  * codegen Expression the library ships. Both consumers read THIS
  * list, so they can never drift apart:
  *
  *  - [[graft.GraftExtensions]] registers each entry's SQL builder
  *    (session-extension injection and live-session registration);
  *  - FunctionsSpec's fallback-disabled compile gate (the r15
  *    HilbertIndex3 lesson: value tests cannot see a Janino failure
  *    because Spark silently falls back to interpreted eval) builds
  *    one projection over EVERY entry and collects it under
  *    `CODEGEN_ONLY`, plus a classpath-reflection completeness
  *    assert — a kernel class added to this package without a
  *    manifest entry fails the spec instead of silently escaping the
  *    exact failure class the gate exists for.
  *
  * `build` performs the arity/literal validation a SQL caller needs
  * (raising AnalysisException via the bridge so the error is
  * positioned, not a raw IllegalArgumentException escaping function
  * resolution).
  */
private[graft] case class KernelDef(
    sqlName: String,
    exprClass: Class[_ <: Expression],
    build: Seq[Expression] => Expression)

private[graft] object Kernels {
  private def analysisError(msg: String): Nothing =
    throw org.apache.spark.sql.GraftBridge.analysisException(msg)

  private def intLit(e: Expression, fn: String, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => analysisError(
      s"$fn: $name must be an integer literal, got ${other.sql}")
  }

  private def arity(usage: String, n: Int, exprs: Seq[Expression]): Unit =
    if (exprs.length != n)
      analysisError(s"$usage takes $n argument${if (n == 1) "" else "s"}; " +
        s"got ${exprs.length}")

  val all: Seq[KernelDef] = Seq(
    KernelDef("cosine_similarity", classOf[CosineSimilarityExpr],
      { exprs =>
        arity("cosine_similarity(a, b)", 2, exprs)
        CosineSimilarityExpr(exprs(0), exprs(1))
      }),
    KernelDef("nearest_cell", classOf[NearestCellExpr],
      { exprs =>
        arity("nearest_cell(cents, emb)", 2, exprs)
        NearestCellExpr(exprs(0), exprs(1))
      }),
    KernelDef("hyperplane_buckets", classOf[HyperplaneBucketsExpr],
      { exprs =>
        arity("hyperplane_buckets(emb, bits, tables)", 3, exprs)
        val bits = intLit(exprs(1), "hyperplane_buckets", "bits")
        val tables = intLit(exprs(2), "hyperplane_buckets", "tables")
        if (bits < 1 || bits > 63 || tables < 1)
          analysisError("hyperplane_buckets: bits must be in [1, 63] and " +
            s"tables >= 1; got bits=$bits, tables=$tables")
        HyperplaneBucketsExpr(exprs(0), bits, tables)
      }),
    KernelDef("minhash_sig", classOf[MinHashSigExpr],
      { exprs =>
        arity("minhash_sig(hashes, num_hashes)", 2, exprs)
        val n = intLit(exprs(1), "minhash_sig", "num_hashes")
        if (n < 1)
          analysisError(s"minhash_sig: num_hashes must be >= 1; got $n")
        MinHashSigExpr(exprs(0), n)
      }),
    KernelDef("simhash", classOf[SimHashExpr],
      { exprs =>
        arity("simhash(token_hashes)", 1, exprs)
        SimHashExpr(exprs(0))
      }),
    KernelDef("hilbert_index", classOf[HilbertIndexExpr],
      { exprs =>
        arity("hilbert_index(a, b)", 2, exprs)
        HilbertIndexExpr(exprs(0), exprs(1))
      }),
    KernelDef("hilbert_index3", classOf[HilbertIndex3Expr],
      { exprs =>
        arity("hilbert_index3(a, b, c)", 3, exprs)
        HilbertIndex3Expr(exprs(0), exprs(1), exprs(2))
      }),
    KernelDef("sorted_lookup", classOf[SortedLookupExpr],
      { exprs =>
        arity("sorted_lookup(keys, vals, key)", 3, exprs)
        SortedLookupExpr(exprs(0), exprs(1), exprs(2))
      }),
    KernelDef("pq_encode", classOf[PqEncodeExpr],
      { exprs =>
        arity("pq_encode(emb, cwflat, norm2s, m, codebook_size)", 5, exprs)
        val m = intLit(exprs(3), "pq_encode", "m")
        val cs = intLit(exprs(4), "pq_encode", "codebook_size")
        if (m < 1 || cs < 1)
          analysisError("pq_encode: m and codebook_size must be >= 1; " +
            s"got m=$m, codebook_size=$cs")
        PqEncodeExpr(exprs(0), exprs(1), exprs(2), m, cs)
      }))
}
