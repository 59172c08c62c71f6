package graft.tools

import org.apache.spark.sql.functions._

/** Dev probe (r17 verdict ask #4): measured recall@10 DISTRIBUTION of
  * the IVF approximate search vs brute-force cosine, over a 100-query
  * deterministic stride sample, for nprobe ∈ {1, 2, 4}. Prints one
  * line per (scale, nprobe) with mean / min / p25 / p50 recall — the
  * SCALE.md table source. Usage:
  *   runMain graft.tools.RecallProbe <sfDir> [<sfDir> ...]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.localSession(reuseAcrossKeys = false)
    args.foreach { d =>
      Seq[(String, (org.apache.spark.sql.DataFrame, Int) =>
          org.apache.spark.sql.DataFrame)](
        ("ivf", (df, np) => graft.ops.DedupSim.ivfRecall(df, np)),
        // 8-bit codes: m=4 subspaces × log2(4)=2 bits (the r15-r18
        // demo budget, mislabeled 16b through r18 — r18 ADVICE)
        ("ivfpq8b", (df, np) =>
          graft.ops.DedupSim.ivfPqRecall(df, np, m = 4, k = 4)),
        ("ivfpq32b", (df, np) =>
          graft.ops.DedupSim.ivfPqRecall(df, np, m = 8, k = 16)),
        // 64-bit codes: the key's production budget (m=16, k=16)
        ("ivfpq64b", (df, np) => graft.ops.DedupSim.ivfPqRecall(df, np))
      ).foreach { case (path, recall) =>
        Seq(1, 2, 4).foreach { np =>
          val r = recall(graft.Tables.embeddings(spark, d), np)
            .agg(count(lit(1)).as("nq"),
              round(avg(col("recall")), 3).as("mean"),
              round(min(col("recall")), 3).as("min"),
              round(expr("percentile(recall, 0.25)"), 3).as("p25"),
              round(expr("percentile(recall, 0.5)"), 3).as("p50"))
            .head()
          graft.ops.ScratchCache.releaseAll()
          println(f"$d%-28s $path%-9s nprobe=$np  n=${r.getLong(0)}%3d  " +
            f"mean=${r.getDouble(1)}%5.3f  min=${r.getDouble(2)}%5.3f  " +
            f"p25=${r.getDouble(3)}%5.3f  p50=${r.getDouble(4)}%5.3f")
        }
      }
    }
    spark.stop()
  }
}
