package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.similarity.{HierQuantizer, Lloyd, ProductQuantizer, Similarity}

/** The one grouped Lloyd trainer ([[graft.similarity.Lloyd]]): both of
  * its arms must reproduce, to the last bit, the models the six
  * per-quantizer trainers it replaced produced — same labels, same
  * centroid doubles — on the real corpus at every geometry the
  * registry and the specs use. The digests were recorded from those
  * trainers (local and distributed gave the same digest); the
  * registered queries' hashes ride on this equality. */
class LocalTrainSpec extends SparkSpec {

  private lazy val all = Similarity.vecs(spark, sf0001).select("vec_id", "v")

  /** SHA-256 over the model rows sorted by their `keys` leading label
    * columns: each label as a long, then the centroid's length and the
    * `doubleToRawLongBits` of every double. */
  private def digest(model: DataFrame, keys: Int): String = {
    val rows = model.collect().map { r =>
      val k = (0 until keys).map(i => r.get(i) match {
        case x: Long => x
        case x: Int => x.toLong
      })
      (k, r.getSeq[Double](keys))
    }.sortBy(_._1)(math.Ordering.Implicits.seqOrdering)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    rows.foreach { case (k, v) =>
      k.foreach(put)
      put(v.length.toLong)
      v.foreach(x => put(java.lang.Double.doubleToRawLongBits(x)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Runs `train` on the local arm and, forced, on the distributed arm. */
  private def bothArms[T](train: => T): Seq[(String, T)] =
    Seq("local" -> train, "distributed" -> Lloyd.distributed(train))

  test("flat coarse quantizer: local Lloyd == distributed, bit-for-bit") {
    val golden = Map(
      (16, 2) -> "c1c2ae91df32a7b2521e7aa91b7eb68dbfc3a03eb8cfa7fc0dd53a5f2355dcf7",
      (8, 2) -> "0dbb1847404d2cf322058499e22d811f9a3d464c6eaec86ac8a13502ba08efb6",
      (16, 1) -> "a1ddc96fca73f9ce8e49d256a17fd89b3135d18db5eda97de83320d9f5d7bb95",
      (5, 3) -> "46c7a157fbd6cb5d220edd9e932e75262c0c392bc232689187832d3af632a91e")
    for (((nlist, iters), want) <- golden;
         (arm, model) <- bothArms(Similarity.trainCentroids(spark, all, nlist, iters)))
      assert(digest(model, 1) === want, s"flat nlist=$nlist iters=$iters, $arm arm")
  }

  test("product quantizer: local Lloyd == distributed, bit-for-bit") {
    val golden = Map(
      (8, 8, 16, 1) -> "c484defae6e656b06571714c54ca584294f38b8782b89ad78e2a0b7eec09b7a1",
      (4, 16, 8, 2) -> "b088ac627c43be07cd721f4da02db65ef87b0501906c6eebae18a773ec0bc97a")
    for (((m, subDim, k, iters), want) <- golden;
         (arm, model) <- bothArms(ProductQuantizer.train(spark, all, m, subDim, k, iters)))
      assert(digest(model, 2) === want, s"pq m=$m k=$k iters=$iters, $arm arm")
  }

  test("hier sub level: local rounds == distributed rounds, bit-for-bit") {
    val n = all.count()
    val golden = Map(
      8 -> ("d8db2dc0a7d938af628dfc610904ec2192bac65da6f3c9794a5e67542aed87c9",
        "48ca52e6268ff26969dbee90de9bc737e9aea510b2d84251f30e66d2f9ab0307"),
      16 -> ("214a57e882a9c28e04f106db67e51fb8365535d3e6f5494bf0b5e070c7574070",
        "fa75aa38666a75bd9e2cd2a5026b3ffcbc46641a53baf0ef88ecd43c62b233bb"))
    for ((nlist, (supers, subs)) <- golden;
         (arm, model) <- bothArms(HierQuantizer.train(spark, all, n, nlist))) {
      assert(digest(model.supers, 1) === supers, s"hier supers nlist=$nlist, $arm arm")
      assert(digest(model.subs, 2) === subs, s"hier subs nlist=$nlist, $arm arm")
    }
  }

  test("oversize frame falls back to the distributed path (probe early-terminates)") {
    // a frame wider than RowCap: the public trainer must take the
    // distributed arm, and its model must equal the local arm's over
    // the same rows, bit for bit
    val big = spark.range(0L, Lloyd.RowCap + 10L)
      .select(col("id").as("vec_id"),
        array(lit(1.0), col("id").cast("double")).as("v"))
    val past = Similarity.trainCentroids(spark, big, 4, 1)
    val sample = big.collect().map(r => (0L, r.getLong(0), r.getSeq[Double](1).toArray))
    val s = spark
    import s.implicits._
    val local = Lloyd.run(Lloyd.Local(sample), 4, 1, Lloyd.Flat)
      .map { case (_, cid, cv) => (cid, cv) }.toDF("cid", "cv")
    assert(past.count() > 0L)
    assert(digest(past, 1) === digest(local, 1))
  }
}
