package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** `analytics`: a basket of registered `SparkEntry.queries`, each run
  * through the `noop` sink (every row and column materialised, nothing
  * collected). One untimed warm pass comes first; it collects each
  * result and checks its digest against the one committed with the
  * benchmark. Timed passes follow, in a seeded order per pass, until the
  * run's time is up (at least one pass). */
final class Analytics extends Workload {
  import Analytics._

  private val pass = new Samples
  private val perQuery = mutable.LinkedHashMap.empty[String, Samples]
  private val planS = mutable.LinkedHashMap.empty[String, Samples]
  private val digests = mutable.LinkedHashMap.empty[String, String]

  def setupAndMeasure(run: Run): Double = {
    val spark = run.spark
    val dir = run.args.dataDir
    val registered = graft.SparkEntry.queries
    val missing = Basket.filterNot(registered.contains)
    if (missing.nonEmpty) throw new IllegalStateException(s"not registered: ${missing.mkString(",")}")
    // set-up: resolving each query's input tables (file listing, footer
    // reads) is this workload's fixture; it is timed like the others
    val (_, setupS) = Fixture.timed(Basket.foreach(q => registered(q)(spark, dir).schema))
    val expected = committedDigests(run)
    val bad = mutable.Set.empty[String]
    Basket.foreach { q =>
      val d = digest(registered(q)(spark, dir).collect())
      digests(q) = d
      expected.get(q) match {
        case Some(e) if e != d => bad += q; run.fail(s"$q digest $d != committed $e")
        case None if !run.args.writeDigests => bad += q; run.fail(s"$q has no committed digest")
        case _ => ()
      }
    }
    run.notes("digests") = digests
    run.measured {
      val start = System.nanoTime()
      var passes = 0
      while (passes == 0 || run.more(start, passes)) {
        val t0 = System.nanoTime()
        run.rnd.shuffle(Basket).foreach { q =>
          val s = perQuery.getOrElseUpdate(q, new Samples)
          run.op(s"basket.$q", s) { _ =>
            registered(q)(spark, dir).write.format("noop").mode("overwrite").save()
          }(_ => if (bad(q)) Some("digest mismatch") else None)
          if (run.tracer.enabled) {
            val df = registered(q)(spark, dir)
            val p0 = System.nanoTime()
            run.tracer.span(s"basket.$q.plan", "replay")(df.queryExecution.executedPlan)
            planS.getOrElseUpdate(q, new Samples).add((System.nanoTime() - p0) / 1e9)
          }
        }
        pass.add((System.nanoTime() - t0) / 1e9)
        passes += 1
      }
      run.notes("passes") = passes
      run.notes("measured_s") = (System.nanoTime() - start) / 1e9
    }
    val ps = pass.values
    run.put(Metric("basket_s", Stats.median(ps), "s", ps.size, "p50"))
    run.put(Metric("op_p50_s", Stats.median(ps), "s", ps.size, "p50"))
    val nQ = perQuery.values.map(_.size).sum
    run.put(Metric("ops_per_s", nQ / ps.sum, "1/s", nQ))
    run.notes("query_p50_s") = perQuery.map { case (q, s) => q -> Stats.median(s.values) }
    if (run.args.writeDigests) writeDigests(run)
    setupS
  }

  /** Order-insensitive digest of a result: sha-256 over its sorted rows. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(32)
  }

  private def sfKey(run: Run) = s"sf${BigDecimal(run.args.sf).bigDecimal.stripTrailingZeros.toPlainString}"

  private def committedDigests(run: Run): Map[String, String] = {
    val f = new java.io.File(run.args.digests)
    if (!f.isFile) Map.empty
    else {
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // {"sf0.1": {"q": "digest", ...}, ...}: one flat level per sf
      val block = ("\"" + java.util.regex.Pattern.quote(sfKey(run)) + "\"\\s*:\\s*\\{([^}]*)\\}").r
      block.findFirstMatchIn(text).map { m =>
        "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r.findAllMatchIn(m.group(1))
          .map(x => x.group(1) -> x.group(2)).toMap
      }.getOrElse(Map.empty)
    }
  }

  private def writeDigests(run: Run): Unit = {
    val f = new java.io.File(run.args.digests)
    val text = if (f.isFile) new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") else "{}"
    val others = "\"(sf[0-9.]+)\"\\s*:\\s*(\\{[^}]*\\})".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).filter(_._1 != sfKey(run)).toSeq
    val mine = sfKey(run) -> Json(digests)
    val all = (others :+ mine).sortBy(_._1)
    java.nio.file.Files.write(f.toPath,
      all.map { case (k, v) => s"  ${Json(k)}: $v" }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }

  def layers(run: Run): Unit = {
    Basket.foreach { q =>
      val s = perQuery.get(q).map(_.values).getOrElse(Nil)
      run.putLayer(s"basket.$q.s", if (s.isEmpty) 0.0 else Stats.median(s), "s", s.size)
      val gs = run.groupStats(s"basket.$q")
      def med(f: JobStats => Double) = if (gs.isEmpty) 0.0 else Stats.median(gs.map(f))
      run.putLayer(s"basket.$q.jobs", med(_.jobs.toDouble), "count", gs.size)
      run.putLayer(s"basket.$q.stages", med(_.stages.toDouble), "count", gs.size)
      run.putLayer(s"basket.$q.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes", gs.size)
      val p = planS.get(q).map(_.values).getOrElse(Nil)
      run.putLayer(s"basket.$q.plan_s", if (p.isEmpty) 0.0 else Stats.median(p), "s", p.size)
    }
    // whole-basket sums of the per-query medians
    for (k <- Seq("jobs", "shuffle_bytes", "plan_s")) {
      val parts = Basket.map(q => run.layer(s"basket.$q.$k"))
      run.putLayer(s"basket.$k", parts.map(_.value).sum, parts.head.unit, parts.map(_.n).min)
    }
  }
}

object Analytics {
  val Basket: Seq[String] = Seq("q238_hits", "q310_neighborhood_clusters", "q202_mad_outliers",
    "q212_weighted_quantiles", "q225_spearman", "q205_association_rules", "q279_silhouette",
    "q29_minhash_lsh", "q67_tfidf_keywords", "q169_sql_topk_per_group", "q92_rolling_window",
    "q72_hll_distinct", "q136_tpch_q5")
}
