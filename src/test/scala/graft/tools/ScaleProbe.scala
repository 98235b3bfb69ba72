package graft.tools
import org.apache.spark.sql.functions._
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    s.sparkContext.setLogLevel("ERROR")
    val d = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
    // warm JIT
    graft.operators.Dedup.minhashPairs(
      d.select(col("doc_id").as("id"), col("text"))).count()
    for (mult <- Seq(1, 4, 16, 64)) {
      val corpus = (0 until mult).map(i =>
        d.select((col("doc_id") + i * 1000000L).as("id"),
          // remap the vocabulary per replica (prefix every word) so
          // replicas share no shingles: expected pairs grow LINEARLY
          regexp_replace(col("text"), "([a-z0-9]+)", s"r$i$$1").as("text")))
        .reduce(_ unionAll _)
        .repartition(32)
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.minhashPairs(corpus).count()
      val el = (System.nanoTime() - t0) / 1e9
      // per-bucket skew of the band buckets: the in-bucket pair expansion
      // is quadratic in THIS number — it must stay bounded as rows grow
      val st = graft.operators.Dedup.lshBucketSizes(corpus)
        .agg(count(lit(1)).as("buckets"), max(col("n")).as("mx"),
          avg(col("n")).as("mean"),
          sum(col("n") * (col("n") - 1) / 2).as("candPairs"))
        .head()
      println(f"[scale] mult=$mult%2d rows=${5000 * mult}%6d pairs=$n%5d time=$el%6.2fs per-1k-rows=${el / (5 * mult)}%5.3fs " +
        f"buckets=${st.getLong(0)}%7d maxBucket=${st.getLong(1)}%4d meanBucket=${st.getDouble(2)}%5.2f candPairs=${st.getDouble(3)}%,.0f")
    }

    // embedding hyperplane-LSH bucket skew: replicas rotate the vector
    // components so replica vectors project differently (cloned vectors
    // would pile into the same bucket and overstate skew)
    val emb = s.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    for (mult <- Seq(1, 4, 16, 64, 160)) {
      // rotation alone has only 64 distinct variants; the per-replica
      // additive term keeps replicas distinct at any mult so the probe
      // measures band-space saturation, not planted duplicates
      val rep = (0 until mult).map(i =>
        emb.select((col("vec_id") + i * 1000000L).as("id"),
          transform(sequence(lit(0), lit(63)), j =>
            (element_at(col("embedding"), ((j + i) % 64) + 1) +
              lit((i / 64 + 1) * 7.0e-3) * ((j + i) % 7 - 3))
              .cast("float"))
            .as("embedding")))
        .reduce(_ unionAll _).repartition(32)
      // fixed default dial vs the corpus-count auto dial: the fixed band
      // space saturates (maxBucket grows linearly); the auto dial adds
      // bits as N grows, holding expected bucket size near the target
      // tight target (100) so the dial's response is visible inside this
      // probe's row range; production default target is 1000
      val rows = rep.count()
      val autoBits = graft.core.GraftConfig.autoBitsPerBand(rows, 100L)
      for ((tag, bits) <- Seq("fixed" -> 8, "auto" -> autoBits)) {
        val st = graft.operators.Dedup.embedBucketSizes(rep, bits, 2)
          .agg(count(lit(1)).as("buckets"), max(col("n")).as("mx"),
            sum(col("n") * (col("n") - 1) / 2).as("candPairs"),
            sum(col("n")).as("rows"))
          .head()
        println(f"[skew-emb] mult=$mult%2d dial=$tag%5s bits=$bits%2d rows=${st.getLong(3) / 2}%7d buckets=${st.getLong(0)}%5d maxBucket=${st.getLong(1)}%6d candPairs=${st.getDouble(2)}%,.0f candRate=${st.getDouble(2) / (st.getLong(3) / 2.0 * (st.getLong(3) / 2.0 - 1) / 2)}%8.5f")
      }
    }

    // bucketed range join: replicas get disjoint user ranges, so matches
    // (and the per-bucket group sizes) grow linearly with rows — the
    // (user, hour-bucket) blocking must keep total cost linear too
    val ev = graft.operators.Relational.events(s, "/root/testdata/sf0.1")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.Relational.rangeJoinBucketed(s, "/root/testdata/sf0.1").count()
    for (mult <- Seq(1, 4, 16)) {
      val rep = (0 until mult).map(i =>
        ev.select((col("event_id") + i * 10000000L).as("event_id"),
          (col("user_id") + i * 100000L).as("user_id"), col("ts")))
        .reduce(_ unionAll _).repartition(32)
      // same plan as the registered query, over the replicated frame
      val HourUs = 3600L * 1000000L
      val e2 = rep.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      val right = e2.select(col("user_id").as("r_user"),
        col("us").as("r_us"), expr(s"us DIV $HourUs").as("r_b"))
      val left = e2.withColumn("b", expr(s"us DIV $HourUs"))
        .select(col("event_id"), col("user_id"), col("us"),
          explode(array(col("b") - 1, col("b"))).as("cb"))
      val t0 = System.nanoTime()
      val n = left.join(right,
          col("user_id") === col("r_user") && col("cb") === col("r_b") &&
            col("r_us") >= col("us") - HourUs && col("r_us") < col("us"),
          "left")
        .groupBy("event_id").agg(count(col("r_us")).as("n")).count()
      val el = (System.nanoTime() - t0) / 1e9
      println(f"[scale-rj] mult=$mult%2d rows=${100000 * mult}%7d out=$n%8d time=$el%6.2fs per-100k-rows=${el / mult}%5.3fs")
    }

    // PQ encode + ADC candidate ranking: both are per-row expressions
    // (no shuffle until the top-k heap), so per-row cost must stay FLAT
    // as the corpus grows — the property that makes the 32× code shrink
    // a 100 TB play rather than a small-corpus trick. Replicas reuse the
    // rotation trick above so no two vectors share codes trivially.
    {
      val cents = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val q = emb.filter(col("vec_id") === 77)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble).toArray
      def pqRank(c: org.apache.spark.sql.DataFrame): Long = {
        c.select(col("id") +:
            graft.operators.Quantize.pqCodeCols(
              cents, col("embedding"), asByte = true): _*)
          .withColumn("d_adc",
            graft.operators.Quantize.pqAdcCol(cents, q))
          .orderBy(col("d_adc").asc, col("id").asc).limit(50)
          .count()
      }
      pqRank(emb.select(col("vec_id").as("id"), col("embedding"))) // warm
      for (mult <- Seq(1, 4, 16, 64)) {
        val rep = (0 until mult).map(i =>
          emb.select((col("vec_id") + i * 1000000L).as("id"),
            transform(sequence(lit(0), lit(63)), j =>
              (element_at(col("embedding"), ((j + i) % 64) + 1) +
                lit((i / 64 + 1) * 7.0e-3) * ((j + i) % 7 - 3))
                .cast("float"))
              .as("embedding")))
          .reduce(_ unionAll _).repartition(32)
        val t0 = System.nanoTime()
        val n = pqRank(rep)
        val el = (System.nanoTime() - t0) / 1e9
        println(f"[scale-pq] mult=$mult%2d rows=${2000 * mult}%7d top=$n%3d time=$el%6.2fs per-2k-rows=${el / mult}%5.3fs")
      }
    }
    // keyed upsert: ONE full-outer shuffle join — cost must track rows,
    // not rows². Replicas carry disjoint key ranges so the match ratio
    // (and the answer size per replica) stays constant as the corpus
    // grows; any superlinearity would mean the join degenerated.
    {
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      def rep(mult: Int) = (0 until mult).map(i =>
          docs.select((col("doc_id") + i * 1000000L).as("doc_id"),
            col("lang"), col("n_chars")))
        .reduce(_ unionAll _).repartition(32)
      // warm
      graft.operators.Upsert.upsert(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 3 === 0), Seq("doc_id")).count()
      for (mult <- Seq(1, 4, 16, 64)) {
        val corpus = rep(mult)
        val target = corpus.filter(col("doc_id") % 2 === 0)
        val source = corpus.filter(col("doc_id") % 3 === 0)
          .withColumn("n_chars", col("n_chars") + 1000)
        val t0 = System.nanoTime()
        val n = graft.operators.Upsert
          .upsert(target, source, Seq("doc_id")).count()
        val el = (System.nanoTime() - t0) / 1e9
        println(f"[scale-upsert] mult=$mult%2d rows=${5000 * mult}%7d merged=$n%7d time=$el%6.2fs per-5k-rows=${el / mult}%5.3fs")
      }
    }
    // $graphLookup BFS: round count is fixed by maxDepth, each round is
    // one frontier⋈from equi-join — total cost must track corpus size
    // linearly. Replicas carry disjoint id spaces (independent forests),
    // so the walk volume grows exactly with the input.
    {
      import org.apache.spark.sql.DataFrame
      val pipe =
        """[{"$graphLookup": {"from": "docs", "startWith": "$parent_id",
          |  "connectFromField": "parent_id", "connectToField": "doc_id",
          |  "as": "anc", "maxDepth": 2}}]""".stripMargin
      def mk(mult: Int) = (0 until mult).map(i =>
          d.select((col("doc_id") + i * 1000000L).as("doc_id"),
            (floor(col("doc_id") / 2).cast("long") + i * 1000000L)
              .as("parent_id")))
        .reduce(_ unionAll _).repartition(32)
      def walk(c: DataFrame): Long = {
        val resolver: String => (DataFrame, org.apache.spark.sql.Column) = {
          case "docs" => (c.select("doc_id", "parent_id"), lit(null))
          case o => sys.error(o)
        }
        graft.filter.MqlPipeline.aggregate(c, lit("{}"), pipe, resolver)
          .agg(sum(size(col("anc")))).head.getLong(0)
      }
      walk(mk(1)) // warm
      for (mult <- Seq(1, 4, 16)) {
        val t0 = System.nanoTime()
        val n = walk(mk(mult))
        val el = (System.nanoTime() - t0) / 1e9
        println(f"[scale-graph] mult=$mult%2d rows=${5000 * mult}%6d ancRows=$n%7d time=$el%6.2fs per-5k-rows=${el / mult}%5.3fs")
      }
    }
    s.stop()
  }
}
