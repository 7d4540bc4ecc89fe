package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe for stage-level timing of the hot operators (not part of the
  * driver contract).
  */
object Probe {

  /** Content-perturbed k-x replica of an sf dir (the SCALE probe's
    * replication scheme — see the SCALE block below for why perturbation
    * keeps dup density constant). Dims stay 1x plain file copies. Events
    * scale by shifting (event_id, user_id) per replica — k× the users,
    * per-user stream structure (and so window/sessionize/funnel shape)
    * identical to the base. SCALEGEN_TABLES=a,b restricts which tables
    * replicate (the rest copy 1x) — used to build table-focused probe
    * dirs without paying a full multi-GB replica.
    */
  def buildScaledDir(spark: SparkSession, sfDir: String, k: Int,
                     dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val shift = 10000000L
    val only: Option[Set[String]] =
      sys.env.get("SCALEGEN_TABLES").map(_.split(",").map(_.trim).toSet)
    def copy1x(t: String): Unit = {
      val source = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
      val target = java.nio.file.Paths.get(s"$dir/$t.parquet")
      // a prior replicated build into the same dir leaves a DIRECTORY
      // layout here — recursive-delete it, and fall back to a Spark
      // read/write copy when the source itself is a directory (a plain
      // Files.copy of a directory copies an empty dir)
      if (java.nio.file.Files.isDirectory(target)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(target)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
        finally walk.close()
      } else java.nio.file.Files.deleteIfExists(target)
      if (java.nio.file.Files.isDirectory(source))
        spark.read.parquet(source.toString)
          .write.mode("overwrite").parquet(target.toString)
      else { java.nio.file.Files.copy(source, target); () }
    }
    def replicate(table: String, keyCols: Seq[String],
                  perturb: (DataFrame, Int) => DataFrame): Unit =
      if (!only.forall(_.contains(table))) copy1x(table)
      else {
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        // replica key ranges must not overlap, or replicas silently
        // merge (users sharing streams, orders sharing lineitems)
        val maxAgg = keyCols.map(c => max(col(c))) match {
          case Seq(one) => one
          case many => greatest(many: _*)
        }
        // max over an EMPTY table is NULL, and a non-BIGINT key column
        // arrives as Int/Decimal — read null-safely via Number (an empty
        // source trivially cannot overlap, so the guard is vacuous there)
        val maxRow = base.agg(maxAgg).head()
        if (!maxRow.isNullAt(0)) {
          val maxKey = maxRow.getAs[Number](0).longValue
          require(maxKey < shift,
            s"$table max key $maxKey >= replica shift $shift — replicas would overlap")
        }
        val parts = (0 until k).map { i =>
          perturb(keyCols.foldLeft(base) { (d, c) =>
            d.withColumn(c, col(c) + lit(i * shift)) }, i)
        }
        parts.reduce(_ unionByName _).write.mode("overwrite")
          .parquet(s"$dir/$table.parquet")
      }
    replicate("lineitem", Seq("l_orderkey"), (d, _) => d)
    replicate("orders", Seq("o_orderkey", "o_custkey"), (d, _) => d)
    replicate("events", Seq("event_id", "user_id"), (d, _) => d)
    replicate("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\w+)", s"$$1_$i")))
    replicate("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else {
        val rng = new scala.util.Random(i)
        val signs = Array.fill(64)(if (rng.nextBoolean()) 1.0f else -1.0f)
        d.withColumn("embedding",
          zip_with(col("embedding"), lit(signs), (x, s) => x * s))
      })
    for (t <- Seq("customer", "supplier", "part", "nation", "region"))
      copy1x(t)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.codegen.maxFields", sys.env.getOrElse("MAXFIELDS", "100"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }

    if (sys.env.contains("AQECMP")) {
      val names = Seq("q1_pricing_agg", "snapshot_diff_updates", "pk_reconcile_missing",
        "join_revenue_nation", "dedup_minhash_lsh", "events_sessionize")
      def runAll(label: String): Unit = {
        val t0 = System.nanoTime()
        names.foreach { n =>
          graft.SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        println(f"[aqe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      runAll("warmup")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      runAll("aqe on ")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      runAll("aqe off")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      runAll("aqe on2")
      spark.stop(); return
    }
    if (sys.env.contains("TOPK")) {
      import org.apache.spark.sql.expressions.Window
      val df = spark.range(20000000L).select(
        (col("id") % 40).as("g"),
        (col("id") * 2654435761L % 1000000007L).as("score"),
        col("id"))
      df.write.format("noop").mode("overwrite").save() // warm
      def t(label: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime(); f
        println(f"[topk] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      t("window row_number k=10") {
        df.withColumn("rank", org.apache.spark.sql.functions.row_number().over(
            Window.partitionBy("g").orderBy(col("score").desc, col("id"))))
          .filter(col("rank") <= 10)
          .write.format("noop").mode("overwrite").save()
      }
      t("TopKPerGroup k=10") {
        org.apache.spark.sql.graft.TopKPerGroup(df, Seq(col("g")),
            Seq(col("score").desc, col("id")), 10)
          .write.format("noop").mode("overwrite").save()
      }
      spark.stop(); return
    }
    if (sys.env.contains("WINSCAN")) {
      // Structural audit: which entries' PHYSICAL plans contain a
      // window with an EMPTY partition spec (the "moving all data to a
      // single partition" class)? Bounded relations (vocab tops,
      // 1-row aggregates, ≤63-range digests) may use one legitimately —
      // the report exists so each hit is a DECISION, not a surprise in
      // a bench log. AQE off so the executed plan is concrete.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      var total = 0
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          val hits = plan.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty => w.windowExpression.mkString(";").take(90)
            case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
                if w.partitionSpec.isEmpty => s"grouplimit ${w.rankLikeFunction}".take(90)
          }
          if (hits.nonEmpty) {
            total += hits.size
            println(s"[winscan] $name: ${hits.size} global window(s): ${hits.mkString(" | ")}")
          }
        } catch {
          case e: Throwable =>
            println(s"[winscan] $name failed to plan: ${e.getMessage}")
        }
      }
      println(s"[winscan] total global-window sites: $total")
      spark.stop(); return
    }
    if (sys.env.contains("SCALEGEN")) {
      // Persistent scale-up dir: SCALEGEN="10:/root/repo/target/sf1"
      // builds a content-perturbed 10x replica of SPARK_GRAFT_SF_DIR
      // (same perturbation scheme as the SCALE probe: injective token
      // suffixes for documents, orthogonal sign-flips for embeddings —
      // constant dup density, realistic corpus growth) and leaves it on
      // disk for the sf1 correctness/bench gate.
      val Array(kStr, outDir) = sys.env("SCALEGEN").split(":", 2)
      buildScaledDir(spark, sfDir, kStr.toInt, outDir)
      println(s"[scalegen] wrote ${kStr}x replica of $sfDir to $outDir")
      spark.stop(); return
    }
    if (sys.env.contains("SCALE")) {
      // Scale-up probe: replicate sf0.1 at each factor in SCALE (e.g.
      // SCALE=10,100) and measure SCALEQ operators, fitting the scaling
      // exponent from log t vs log k — evidence for SURVEY §3.
      //
      // Replicas are CONTENT-PERTURBED so near-dup workloads keep a
      // constant dup density (the realistic corpus-growth shape) instead
      // of the k^2 pair blowup identical copies would manufacture:
      //  - documents: every word in replica i>0 gets an `_i` suffix — an
      //    injective token map, so intra-replica jaccard structure is
      //    EXACTLY the base corpus's while cross-replica shingle overlap
      //    is zero;
      //  - embeddings: replica i>0 is reflected by a seeded random ±1
      //    sign pattern per dimension — an orthogonal transform, so
      //    intra-replica cosines are EXACTLY the base corpus's while
      //    cross-replica cosines collapse to ~N(0, 1/64).
      val factors = sys.env("SCALE").split(",").map(_.trim.toInt).filter(_ > 1)
      def buildDir(k: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-scale-$k").toString
        buildScaledDir(spark, sfDir, k, dir)
        dir
      }
      val dirs: Seq[(Int, String)] =
        (1, sfDir) +: factors.toSeq.map(k => k -> buildDir(k))
      // Probe-only composition: embedding clusters with the FULL kmeans‖
      // quantizer (initCentroids k ≈ √n + distributed reduction) instead
      // of the primary entry's stride sample — measures what the refined
      // quantizer costs at scale. The round-3 probe-only scale configs
      // (stride √n centroids, capped ksub) were PROMOTED to the primary
      // inventory entries in round 4, so SCALEQ now probes those
      // directly by name.
      val fixedK: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
        "embedding_clusters_kmeans" -> { (s, d) =>
          val emb = graft.Tables.embeddings(s, d)
          val k = math.max(16, math.sqrt(emb.count().toDouble).toInt)
          val cents = graft.operators.Ann.initCentroids(
            emb, "vec_id", "embedding", k = k, seed = 7L)
          val assign = graft.operators.Ann.ivfAssign(
            emb, cents, "vec_id", "embedding", "centroid_id", "cv")
          graft.operators.Clustering.dedupClusters(
            graft.operators.Ann.bucketedCosinePairs(
              emb, assign, "vec_id", "embedding", 0.4),
            "id_a", "id_b")
        })
      val names = sys.env.getOrElse("SCALEQ",
        "q1_pricing_agg,snapshot_diff_updates,tile_assign,dedup_exact,doc_fingerprint,counter_deltas").split(",")
      for (name <- names) {
        def run(d: String): Double = {
          val t0 = System.nanoTime()
          fixedK.getOrElse(name, graft.SparkEntry.queries(name))(spark, d)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // warm every input (code paths + page cache + file listings),
        // then time each on its second run — a cold first scan otherwise
        // lands only on the scaled points and inflates the exponent
        val times = dirs.map { case (k, d) => run(d); k -> run(d) }
        // least-squares slope of log t over log k = the scaling exponent
        val pts = times.map { case (k, t) => (math.log(k), math.log(t)) }
        val n = pts.size
        val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
        val exp = (n * pts.map(p => p._1 * p._2).sum - sx * sy) /
          (n * pts.map(p => p._1 * p._1).sum - sx * sx)
        val series = times.map { case (k, t) => f"${k}x=$t%.2f s" }.mkString(" ")
        println(f"[scale] $name: $series exponent=$exp%.2f (1.0 = linear)")
      }
      // replica dirs are GBs at 100x — don't leave them in /tmp
      dirs.drop(1).foreach { case (_, d) =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      }
      spark.stop(); return
    }
    // DECOMP=lsh|spans|pcm — stage-level attribution of the hot operator
    // families: each listed sub-plan times through the noop sink, median
    // of DECOMP_TRIALS (default 3), so the expensive stage inside a
    // composed entry is identified by measurement, not guesswork.
    if (sys.env.contains("DECOMP")) {
      val docs = graft.Tables.documents(spark, sfDir)
      import graft.operators._
      val trials = sys.env.get("DECOMP_TRIALS").map(_.toInt).getOrElse(3)
      // Spark-job counter: the iterative operators' cost is partly DRIVER
      // jobs (eager checkpoints, convergence probes) that no plan shows —
      // count them per trial so job-count claims are measured.
      val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobCounter.incrementAndGet()
        })
      def med(label: String)(df: => DataFrame): Unit = {
        var jobs = 0
        val ts = (1 to trials).map { _ =>
          System.gc()
          val j0 = jobCounter.get()
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // let the async listener bus drain
          jobs = jobCounter.get() - j0
          dt
        }.sorted
        val m = if (ts.size % 2 == 1) ts(ts.size / 2)
                else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
        println(f"[decomp] $label%-28s median=$m%6.2f s  jobs=$jobs  (${ts.map(t => f"$t%.2f").mkString(" ")})")
      }
      sys.env("DECOMP") match {
        case "lsh" =>
          def sh = TextDedup.shingleHashTable(docs, "doc_id", "text", 3)
          med("shingleHashTable")(sh)
          med("sizes(groupBy doc)")(sh.groupBy("doc_id").agg(count(lit(1)).as("sz")))
          med("bandedKeys")(TextDedup.bandedKeys(sh, 128, 32))
          med("lshCandidates")(TextDedup.lshCandidatesFromHashes(sh, 128, 32))
          med("minhashLshPairs(full)")(TextDedup.minhashLshPairs(
            docs, "doc_id", "text", 3, 128, 32, 0.8))
          med("dedupClusters(pairs)")(Clustering.dedupClusters(
            TextDedup.minhashLshPairs(docs, "doc_id", "text", 3, 128, 32, 0.8),
            "doc_a", "doc_b"))
        case "spans" =>
          med("repeatedSpans(full)")(TextDedup.repeatedSpans(
            docs, "doc_id", "text", 15))
          med("removeRepeatedSpans")(TextDedup.removeRepeatedSpans(
            docs, "doc_id", "text", 15))
        case "pcm" =>
          med("syntheticPcm")(Multimodal.syntheticPcm(docs, "doc_id"))
          med("audioFrameEnergy")(Multimodal.audioFrameEnergy(
            Multimodal.syntheticPcm(docs, "doc_id"), "doc_id", "payload", 64))
          med("perceptualHash")(Multimodal.perceptualHash(
            Multimodal.syntheticPcm(docs, "doc_id"), "doc_id", "payload", 62))
        case "pcm2" =>
          val pcm = Multimodal.syntheticPcm(docs, "doc_id")
          med("phash nBits=8")(Multimodal.perceptualHash(pcm, "doc_id", "payload", 8))
          med("phash nBits=31")(Multimodal.perceptualHash(pcm, "doc_id", "payload", 31))
          med("phash nBits=62")(Multimodal.perceptualHash(pcm, "doc_id", "payload", 62))
          med("hex only")(pcm.select(col("doc_id"), hex(col("payload")).as("hx")))
        case "pcm3" =>
          // split planning cost from execution cost for the unrolled phash
          val pcm = Multimodal.syntheticPcm(docs, "doc_id")
          val ph = Multimodal.perceptualHash(pcm, "doc_id", "payload", 62)
          val tp0 = System.nanoTime()
          val exec = ph.queryExecution.executedPlan
          println(f"[decomp] phash planning: ${(System.nanoTime() - tp0) / 1e9}%.2f s")
          for (i <- 1 to 3) {
            val t0 = System.nanoTime()
            exec.execute().foreachPartition(
              (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
            println(f"[decomp] phash execute#$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        case other => println(s"[decomp] unknown family: $other")
      }
      spark.stop(); return
    }
    // JOBS=all|q1,q2 — per-entry Spark-job and wall-clock census (one
    // noop-sink run each after one warmup of the first entry), sorted by
    // job count. Finds the driver-job-bound tail entries (r15 verdict #8):
    // at sf0.1 an entry's cost is ≈ jobs × fixed per-job overhead, so the
    // census ranks by the thing that actually matters.
    if (sys.env.contains("JOBS")) {
      val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobCounter.incrementAndGet()
        })
      val sel = sys.env("JOBS")
      val names =
        if (sel == "all") graft.Queries.all.map(_.name)
        else sel.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      def once(name: String): (Int, Double) = {
        System.gc()
        val j0 = jobCounter.get()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        (jobCounter.get() - j0, dt)
      }
      once(names.head) // warmup
      val rows = names.flatMap { n =>
        try Some((n, once(n)))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[jobs] $n failed: ${e.getMessage}"); None }
      }
      for ((n, (j, t)) <- rows.sortBy(-_._2._1))
        println(f"[jobs] $n%-40s jobs=$j%3d  $t%6.2f s")
      spark.stop(); return
    }
    // PLANS=q1,q2 PLANDIR=plans/r14 PLANSUFFIX=before — dump each entry's
    // explain("formatted") (plus the executed/finalized adaptive plan) to
    // <PLANDIR>/<name>_<PLANSUFFIX>.txt for the round's plan artifacts.
    if (sys.env.contains("PLANS")) {
      val dir = java.nio.file.Paths.get(sys.env.getOrElse("PLANDIR", "plans/r14"))
      java.nio.file.Files.createDirectories(dir)
      val suffix = sys.env.getOrElse("PLANSUFFIX", "before")
      for (name <- sys.env("PLANS").split(",").map(_.trim).filter(_.nonEmpty)) {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val exec = df.queryExecution.executedPlan
        // run the plan so AQE finalizes (join strategies, coalesced reads)
        exec.execute().foreachPartition(
          (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val body = formatted + "\n\n== Executed (AQE-final) plan ==\n" + exec.toString
        java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote ${dir.resolve(s"${name}_$suffix.txt")}")
      }
      spark.stop(); return
    }
    for (name <- sys.env.getOrElse("AUDIT", "q1_pricing_agg").split(",")) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // Execute THIS plan instance (a writer would build its own
      // QueryExecution and leave this AdaptiveSparkPlan un-finalized,
      // hiding the codegen stages from the string).
      val exec = df.queryExecution.executedPlan
      exec.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val plan = exec.toString
      // codegen stages appear as `*(N)` operator prefixes in the plan
      // string — count DISTINCT stage ids, not occurrences
      val wscg = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      println(s"[audit] $name: exchanges=" + "Exchange hashpartitioning".r.findAllIn(plan).length +
        " broadcasts=" + "BroadcastExchange".r.findAllIn(plan).length +
        s" wscg=$wscg")
      plan.linesIterator.filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
        .take(6).foreach(l => println("[audit]   " + l.trim.take(240)))
    }
    spark.stop()
  }
}
