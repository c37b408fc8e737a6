package perfbench

import graft.operators.SimilarityOps

/** The ANN layer, probed in traced corpus runs: an IVF-PQ index is
  * built over seeded vectors and written, then searched. The seed
  * permutes the vec_ids, so the `vec_id < Queries` query set differs
  * per seed; recall@K is measured against brute force.
  */
object Ann {
  val Vectors = 2000
  val Dim = 64
  val Labels = 10
  val Queries = 10
  val K = 5
  val RecallFloor = 0.6

  def probe(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    Gen.embeddings(ctx.seed, Vectors, Dim, Labels).toDF()
      .coalesce(1).write.parquet(s"$dir/embeddings")
    val emb = spark.read.parquet(s"$dir/embeddings")
    for (_ <- 1 to 2) ctx.span("similarity.index") {
      ctx.call(SimilarityOps.writeIvfPqIndex(
        SimilarityOps.knnIvfPqIndex(emb, dimHint = Dim), s"$dir/index"))
    }
    val idx = SimilarityOps.readIvfPqIndex(spark, s"$dir/index")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val truth = ctx.call(pairs(SimilarityOps.knnBrute(emb, Queries, K)))
    val recalls = (1 to 3).map { _ =>
      val hits = ctx.span("similarity.search") {
        ctx.call(pairs(SimilarityOps.knnIvfPqSearch(emb, idx, Queries, K, dimHint = Dim)))
      }
      (hits intersect truth).size.toDouble / truth.size
    }
    ctx.result.sample("similarity.recall", recalls.min)
    ctx.result.check("ann_recall_at_floor", recalls.min >= RecallFloor,
      f"recall@$K ${recalls.min}%.3f below the operator's $RecallFloor floor")
  }
}
