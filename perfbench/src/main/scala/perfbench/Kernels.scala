package perfbench

import graft.Tables
import graft.expressions.NativeFunctions
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-function kernel passes of the traced run: one pass of a
  * `graft.expressions` / `graft.functions` kernel over `documents` or
  * `embeddings`, repeated for at least `minS` seconds, reported as input
  * rows per second. The kernel's output is folded into a hash maximum so the
  * optimizer cannot prune it.
  */
object Kernels {
  private val minS = 0.5

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val docs = Tables.load(spark, ctx.data, "documents").select("text").cache()
    val embs = Tables.load(spark, ctx.data, "embeddings").select("embedding").cache()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val probe = embs.head().getSeq[Float](0).toArray
    val toks = TextFunctions.tokens(col("text"))
    ctx.tracer.enabled = true
    pass(ctx, "minhash", docs, nDocs, NativeFunctions.minhashSig(toks, 3, 128))
    pass(ctx, "simhash", docs, nDocs,
      NativeFunctions.simhash64(transform(toks, t => xxhash64(t))))
    pass(ctx, "cosine", embs, nEmbs,
      NativeFunctions.cosineSim(col("embedding"), typedLit(probe)))
    pass(ctx, "text_quality", docs, nDocs, TextFunctions.qualityScore(col("text")))
    ctx.tracer.enabled = false
    docs.unpersist(); embs.unpersist()
  }

  private def pass(ctx: Main.Ctx, name: String, df: DataFrame, rows: Double,
                   kernel: Column): Unit = {
    val q = df.select(max(xxhash64(kernel)))
    q.collect() // warm-up
    var n = 0
    val t0 = System.nanoTime()
    while (n == 0 || System.nanoTime() - t0 < minS * 1e9) {
      ctx.tracer.span("kernels", name)(q.collect())
      n += 1
    }
    ctx.res.set(s"kernel.${name}_rows_per_s", rows * n / ((System.nanoTime() - t0) / 1e9))
  }
}
