package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.cva.{CvaPipeline, FlowCuration}
import graft.dedup.TextDedup
import graft.functions.{TextFns, TextHash, VectorKernels}
import graft.sources.Tables

/** Kernel and single-layer timings at fixed inputs: each input is cached
  * and counted before timing, and an expression's cost is its projection's
  * time minus a passthrough projection of the same input. Median of
  * `reps`. */
object Kernels {
  val reps = 3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  /** ns per input row of `expr` over `in`, net of a passthrough of `keep`. */
  private def nsPerRow(in: DataFrame, rows: Long, keep: Column, expr: Column): Double = {
    noop(in.select(keep, expr)) // compile and warm
    val net = (1 to reps).map { _ =>
      secs(noop(in.select(keep, expr))) - secs(noop(in.select(keep)))
    }
    Main.median(net) * 1e9 / rows
  }

  /** A flows frame in the shape `FlowCuration.curate` reads, from orders. */
  private def flows(spark: SparkSession, data: String): DataFrame = {
    val k = col("o_orderkey")
    val c = (k % 4 + (k - k % 4) / 4) % 5
    Tables.orders(spark, data).select(
      (k - k % 4).as("id"),
      when(c.cast("int") === 0, "incoming").when(c.cast("int") === 2, "outgoing")
        .otherwise("internal").as("boundary"),
      when(k % 2 === 0, "2021; 2022").otherwise("2023").as("destinationObjects_UsageYear.name"),
      when(k % 3 === 0, "ALGERIA; ARGENTINA").otherwise("BRAZIL")
        .as("destinationObjects_Location.name"),
      col("o_totalprice").as("amountUSD"),
      when(k % 7 === 0, "Cash transfer programming (CTP)").otherwise("Traditional aid").as("method"),
      when(k % 5 === 0, "Multipurpose Cash").when(k % 5 === 1, "Multipurpose Cash; Health")
        .when(k % 5 === 2, "Health; Education").otherwise("").as("cluster"),
      when(k % 11 === 0, 0.9).otherwise(lit(null).cast("double")).as("project_cva_pct"),
      ((k % 10) / 10.0).as("predicted_confidence"),
      (k % 3 === 0).as("common_words_match"),
      (k % 19 === 0).as("manual_accept"),
      concat(lit("Org "), ((k / 4) % 20).cast("string"), lit(" (Intl.)")).as("org_name"))
  }

  def run(spark: SparkSession, data: String): Map[String, Double] = {
    import spark.implicits._
    val stops = Seq("the", "a", "and", "of", "to", "is")
    val (docs, nDocs) = cached(Tables.documents(spark, data).select(col("doc_id"), col("text")))
    val text = col("text")
    val out = scala.collection.mutable.Map.empty[String, Double]
    out("functions.minhash_ns") = nsPerRow(docs, nDocs, col("doc_id"), TextHash.min_gram_md5(text, 8))
    out("functions.fingerprint_ns") = nsPerRow(docs, nDocs, col("doc_id"), TextFns.fingerprint(text))
    out("functions.quality_ns") = nsPerRow(docs, nDocs, col("doc_id"), TextFns.qualityScore(text, stops))
    out("dedup.wordgrams_ns") = nsPerRow(docs, nDocs, col("doc_id"), TextDedup.wordGrams(text, 3))
    out("dedup.simhash_ns") = nsPerRow(docs, nDocs, col("doc_id"), TextDedup.simHashN(text, 60))
    docs.unpersist(blocking = true)

    val embRaw = Tables.embeddings(spark, data)
    val book = embRaw.orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Float](1).map(_.toDouble)).toSeq
    val (emb, nEmb) = cached(embRaw.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v")))
    out("functions.argmax_cosine_ns") =
      nsPerRow(emb, nEmb, col("vec_id"), VectorKernels.argmaxCosine(col("v"), book))
    graft.ann.KMeans.fit(emb, "vec_id", "v", 16, 2) // warm
    out("ann.kmeans_fit_s") =
      Main.median((1 to 3).map(_ => secs(graft.ann.KMeans.fit(emb, "vec_id", "v", 16, 5))))
    emb.unpersist(blocking = true)

    val (fl, nFl) = cached(flows(spark, data))
    val rel = CvaPipeline.sectorMethodClusterRelevance(col("method"), col("cluster"))
    val (amount, _) = CvaPipeline.amountWaterfall(col("amountUSD"), rel,
      CvaPipeline.clusterCount(col("cluster")), col("project_cva_pct"),
      col("predicted_confidence"), col("common_words_match"), col("manual_accept"))
    out("cva.cascade_ns") = nsPerRow(fl, nFl, col("id"),
      struct(rel.as("r"), amount.as("a"), TextFns.cleanName(col("org_name")).as("n")))
    val isos = Tables.nation(spark, data).select(
      col("n_name").as("countryname_fts"), substring(col("n_name"), 1, 3).as("iso3"))
    val years = Seq(2021, 2022, 2023).toDF("year")
    val deflators = Tables.nation(spark, data).crossJoin(years)
      .select(substring(col("n_name"), 1, 3).as("iso3"), col("year"),
        (lit(1.0) + col("n_nationkey") * 0.01).as("deflator"))
    val dac = years.select(col("year"), lit(1.1).as("deflator"))
    def curate(): Unit = noop(FlowCuration.deflate(
      FlowCuration.curate(fl, isos).withColumn("year", col("year").cast("int")), deflators, dac))
    curate()
    out("cva.curate_s") = Main.median((1 to reps).map(_ => secs(curate())))
    fl.unpersist(blocking = true)

    // all columns of every input table, read to a noop sink
    val scanRows = Seq("orders", "documents", "embeddings", "nation")
      .map(t => Tables.load(spark, data, t).count()).sum
    def scanAll(): Unit = Seq("orders", "documents", "embeddings", "nation")
      .foreach(t => noop(Tables.load(spark, data, t)))
    scanAll()
    out("sources.scan_ns_per_row") = Main.median((1 to reps).map(_ => secs(scanAll()))) * 1e9 / scanRows
    out.toMap
  }
}
