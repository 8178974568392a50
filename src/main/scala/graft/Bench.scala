package graft
object Bench {
  /** The itemized query names of the highest-numbered `BENCH_r<N>*.json`
    * records in `dir` (`parsed.queries` of every core count's record of
    * that round); none when `dir` holds no record. */
  private[graft] def benchPins(dir: java.io.File): Set[String] = {
    val Record = """BENCH_r(\d+).*\.json""".r
    val records = Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      f.getName match { case Record(n) => Some(n.toInt -> f); case _ => None })
    if (records.isEmpty) Set.empty
    else {
      val newest = records.map(_._1).max
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      records.collect { case (`newest`, f) => f }.flatMap { f =>
        val names = json.readTree(f).path("parsed").path("queries").fieldNames()
        scala.jdk.CollectionConverters.IteratorHasAsScala(names).asScala
      }.toSet
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Steady-state measurement (JMH-style): construct every plan once, then
    // run one untimed pass over the whole suite. Spark caches generated code
    // by source, so the warm pass absorbs per-query janino compilation, JIT,
    // and first-plan costs — one-time artifacts of a cold JVM. The timed
    // passes then measure query execution, which is what a resident engine
    // serves.
    val dfs = SparkEntry.queries.map { case (name, fn) =>
      name -> (try Some(fn(spark, sfDir)) catch { case e: Throwable =>
        System.err.println(s"BENCH FAIL (plan) $name: $e"); None })
    }
    dfs.foreach { case (_, df) =>
      try df.foreach(_.count()) catch { case _: Throwable => () }
    }
    // Builders whose graded work runs at plan-construction time (streaming
    // drains, write-then-read roundtrips, driver-side fixpoint control) are
    // REBUILT inside the timing, so the reported seconds include the work
    // the builder actually does — a pre-built plan would time only a
    // cached-RDD/sink read for them. The set is DERIVED at the registries
    // (every StreamingGraded entry + per-module `eager` tags), never
    // hand-maintained here: the hand list silently mis-timed a new
    // side-effecting query three rounds in a row (dd_components r4,
    // a12 r6), and PlanShapeSpec's job audit now enforces membership.
    val eagerBuilders = SparkEntry.eagerQueries
    // A failed query records -1 (never a tiny elapsed time) so a regression
    // that breaks a query can't lower the bench total; `fail` counts them.
    def timedPass(): Map[String, Double] = dfs.map { case (name, df0) =>
      val t0 = System.nanoTime()
      val ok =
        try {
          val df = if (eagerBuilders(name))
            Some(SparkEntry.queries(name)(spark, sfDir)) else df0
          df.map(_.count()).isDefined
        } catch { case e: Throwable =>
          System.err.println(s"BENCH FAIL (run) $name: $e"); false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }.toMap
    // min over 5 passes: at local[32] a single concurrent GC inflates a
    // 0.1 s query to >1 s, and full-suite totals swing ±30% run-to-run;
    // the per-query min converges on the steady-state cost. 5, not 3: the
    // round-3 driver run showed plain scan+agg queries (d1, j5) stuck at
    // 5× their local cost through all 3 passes — sustained host-load
    // windows outlast a 3-pass suite, and a per-query min is only as
    // robust as the number of independent samples behind it.
    // drop every shared-BUILD memo before each pass AND unpersist the
    // frames those builds registered (components index, PCA basis, BPE
    // rounds — CacheRegistry.passReset): CacheManager keys on the
    // canonical plan, so clearing the memos alone would leave passes 2-5
    // reading cache HITS for every rebuilt stage whose plan is identical
    // across passes. One pass = one honest build per shared index
    // (whichever consumer runs first pays it; the others read the shared
    // frame, the real serving shape). PREP memos (stored labels, input
    // spools, table reads) survive.
    val passes = Seq.fill(5) {
      graft.CacheRegistry.passReset(); System.gc(); timedPass()
    }
    val results = dfs.keys.map { name =>
      val ts = passes.map(_(name))
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap
    // Locale-pinned formatting: the f"" interpolator uses the JVM default
    // locale, and a comma decimal separator would make the emitted JSON
    // unparseable by the driver.
    def num(v: Double, decimals: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))
    def fmt(v: Double): String = {
      val s = if (v.abs >= 0.095) num(v, 1) else num(v, 2)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    // Full-precision per-query seconds go to a FILE — the driver parses its
    // metric out of the LAST ~2000 chars of the run's stdout, and a
    // 90+-query map no longer fits that window (round 1's full-precision
    // line already overflowed it once). The stdout line keeps the total
    // plus only the slow queries (≥0.095 s — the ones worth comparing
    // round-over-round; sub-0.1 s values are run-to-run noise at local[32]),
    // with the fast remainder summarized as a count + sum.
    val detailPath = java.nio.file.Paths.get("bench_detail.json")
    val detail = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v, 3) }
      .mkString("{\"sf\":\"" + new java.io.File(sfDir).getName + "\",\"queries\":{", ",", "}}")
    java.nio.file.Files.writeString(detailPath, detail)
    // The itemized map is BUDGETED, not threshold-only: at 140 queries the
    // 0.095 s cutoff alone produced a 2047-char line — past the driver's
    // 2000-char tail window. Itemize the slowest queries first (those are
    // the ones worth comparing round-over-round) until ~1500 chars of map,
    // and fold everything else into the count + sum summary.
    // PINNED FIRST (additions-only): queries itemized in the previous
    // round's stdout map stay itemized even when they got FASTER —
    // otherwise an improvement pushes a query out of the budgeted map and
    // the round-over-round diff misreads it as dropped (7 false drops in
    // PERF_r10). Pinned entries keep priority over new slow entries; the
    // pins are read from the newest committed BENCH record (benchPins).
    val pinned = benchPins(new java.io.File("."))
    val slowCandidates =
      (results.toSeq.filter { case (k, v) => v >= 0 && pinned(k) }
        .sortBy(-_._2) ++
        results.toSeq.filter { case (k, v) => v >= 0.095 && !pinned(k) }
          .sortBy(-_._2))
    val itemized = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mapLen = 2
    slowCandidates.foreach { case (k, v) =>
      val entryLen = k.length + fmt(v).length + 4 // quotes + colon + comma
      if (mapLen + entryLen <= 1500) { itemized += (k -> v); mapLen += entryLen }
    }
    val slow = itemized.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fast = results.collect { case (k, v) if v >= 0 && !itemized.contains(k) => v }
    val folded = slowCandidates.size - itemized.size
    val failed = results.count(_._2 < 0)
    val total = results.values.filter(_ >= 0).sum + 1e6 * failed
    // "fail" appears only when nonzero — visible on regression, zero cost
    // on the healthy path.
    val failPart = if (failed > 0) s""","fail":$failed""" else ""
    // "nover": pinned or slow entries the budget folded into nfast
    val overPart = if (folded > 0) s""","nover":$folded""" else ""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$slow,""" +
        s""""nfast":${fast.size},"fastsum":${fmt(fast.sum)},""" +
        s""""detail":"bench_detail.json"$failPart$overPart,"sf":"${new java.io.File(sfDir).getName}"}"""
    if (line.length > 1800)
      System.err.println(s"BENCH WARN: JSON line ${line.length} chars — nearing the driver's 2000-char tail window")
    println(line)
    Console.out.flush()
    graft.CacheRegistry.releaseAll()
    spark.stop()
  }
}
