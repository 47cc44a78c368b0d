package graft
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { name =>
      println(s"===== $name =====")
      // "lsh:<Fetch|InBand|InBandTwoTier>" explains the near-dup pair
      // miner with a FORCED verify form (the registered q35 routes by
      // corpus, so the big-corpus in-band plans are invisible at small
      // SFs); anything else is a SparkEntry query name.
      if (name.startsWith("lsh:")) {
        import org.apache.spark.sql.functions._
        val form = name.stripPrefix("lsh:") match {
          case "Fetch" => graft.dedup.MinHashLSH.VerifyForm.Fetch
          case "InBand" => graft.dedup.MinHashLSH.VerifyForm.InBand
          case "InBandTwoTier" => graft.dedup.MinHashLSH.VerifyForm.InBandTwoTier
          case other => sys.error(s"unknown form $other")
        }
        val sh = Tables(spark, dir, "documents").select(col("doc_id"),
          graft.expressions.NgramHashes.char_ngram_hashes(col("text"), 8).as("sh"))
        graft.dedup.MinHashLSH.nearDupPairsHashed(sh, "doc_id", "sh",
          64, 16, 0.7, verify = form).explain("formatted")
      } else if (name == "substrdup") {
        // q91's dup-window miner: invisible in the final plan behind
        // report()'s localCheckpoint
        graft.dedup.SubstringDedup.dupWindows(
          Tables(spark, dir, "documents"), "doc_id", "text", width = 10)
          .explain("formatted")
      } else if (name == "knntop3") {
        // the kNN edge-build subtree (q93's staged write input) — hidden
        // behind the staged table in q93's own plan
        graft.queries.SimilarityQueries.knnTop3(spark, dir).explain("formatted")
      } else if (name == "ccround") {
        // the label-propagation round body (r16: replaced by RDD jobs on
        // long-id null-free graphs; this is the relational fallback's
        // per-round plan, i.e. the BEFORE shape)
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
          .toDF("src", "dst").localCheckpoint(true)
        val labels = und.select(col("src").as("v")).distinct()
          .withColumn("label", col("v")).localCheckpoint(true)
        val neighborMin = und
          .join(labels.withColumnRenamed("v", "dst"), "dst")
          .groupBy(col("src").as("v")).agg(min("label").as("nmin"))
        labels.join(neighborMin, Seq("v"), "left")
          .select(col("v"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
            (col("nmin") < col("label")).as("__chg"))
          .explain("formatted")
      } else if (name == "prround") {
        // one relational PageRank round body (r16: replaced by RDD jobs)
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val e = Seq((1L, 2L, 0.5), (2L, 3L, 1.0))
          .toDF("__src", "__dst", "__recip").localCheckpoint(true)
        val ids = Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("__id").localCheckpoint(true)
        val pr = ids.withColumn("__pr", lit(1.0 / 3))
        val in = e.join(pr.select(col("__id").as("__src"), col("__pr")), "__src")
          .select(col("__dst").as("__id"),
            (col("__pr") * col("__recip")).cast("decimal(28,12)").as("__c"))
          .groupBy("__id").agg(sum("__c").cast("double").as("__in"))
        ids.join(in, Seq("__id"), "left")
          .select(col("__id"),
            (lit(0.05) + lit(0.85) * coalesce(col("__in"), lit(0.0))).as("__pr"))
          .explain("formatted")
      } else if (name == "kcoreround") {
        // one relational k-core peeling round body (r16: replaced by RDD)
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val wa = org.apache.spark.sql.expressions.Window.partitionBy("a")
        val wb = org.apache.spark.sql.expressions.Window.partitionBy("b")
        val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
          .toDF("a", "b").localCheckpoint(true)
        e.withColumn("__da", count(lit(1)).over(wa))
          .withColumn("__db", count(lit(1)).over(wb))
          .filter(col("__da") >= 2 && col("__db") >= 2)
          .select("a", "b")
          .explain("formatted")
      } else if (name == "starround") {
        // the connected-components star loop body (q92): invisible in the
        // final plan because every round sits behind a localCheckpoint
        import org.apache.spark.sql.functions._
        val sh = Tables(spark, dir, "documents").select(col("doc_id"),
          graft.expressions.NgramHashes.word_ngram_hashes(col("text"), 3).as("sh"))
        val pairs = graft.dedup.MinHashLSH.nearDupPairsHashed(sh, "doc_id", "sh",
          64, 16, 0.8).select(col("doc_a").as("u"), col("doc_b").as("v"))
        graft.dedup.Clusters.starRound(pairs).explain("formatted")
      } else SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
