package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

/** `catalog`: one analyst (a closed loop of one client) runs a fixed
  * catalog slice through `SparkEntry.queries` and `Queries.timingAction`.
  * Set-up is one cold pass in sorted order from an empty index root, which
  * builds every artifact the slice needs (the LSH and semdedup artifacts)
  * on first use, then `WarmUps` untimed passes. The timed region is a
  * fixed number of warm passes, one per four seconds of the run, each in
  * a seeded order. Neither count follows the host's speed: pass times
  * keep falling for several passes while the JIT warms up (10.1 s, 7.8,
  * 6.9, 6.2, 5.6, 5.3 in one run on the 4-core reference host), so a run
  * that fitted one more pass in would report a faster median. Without
  * the warm-up passes the timed median sat on the steepest part of that
  * curve, and its spread over five seeds was 0.21 to 0.27 of the median
  * against 0.04 to 0.06 with three. The slice is the dedup and
  * text rows that lead the warm total; the whole 67-query catalog, or any
  * `be_*` row (each first builds the serving spine), does not fit a run's
  * time.
  */
object CatalogRun {

  /** The slice, in cold-pass order; the traced run reports each row's cold and warm time. */
  val names: Seq[String] = Seq("dd_embed_lsh", "dd_minhash", "dd_ngram_jaccard",
    "dd_semdedup_fixed", "dd_simhash", "txt_filter", "txt_repetition")

  /** Untimed passes after the cold pass, part of set-up. */
  val WarmUps = 2

  /** Rows whose row count is just the input's document count; their
    * content is checked by a digest of the answer as well.
    */
  val digested: Seq[String] = Seq("txt_filter", "txt_repetition")

  private def scaleKey(ctx: Ctx) = if (ctx.tiny) "tiny" else "full"

  /** The pinned expectations of the run's scale: (row counts, digests). */
  private def expected(ctx: Ctx): (Map[String, Long], Map[String, String]) = {
    val root = if (ctx.expected.toFile.exists) Some(new ObjectMapper().readTree(ctx.expected.toFile)) else None
    def section[T](key: String)(value: com.fasterxml.jackson.databind.JsonNode => T): Map[String, T] =
      root.flatMap(r => Option(r.get(key))).flatMap(k => Option(k.get(scaleKey(ctx))))
        .map(rows => rows.fieldNames.asScala.map(k => k -> value(rows.get(k))).toMap)
        .getOrElse(Map.empty)
    (section("rows")(_.asLong), section("digests")(_.asText))
  }

  /** Pin this program's row counts and digests as the expectation for the run's scale. */
  private def record(ctx: Ctx, cold: Seq[Timed], digests: Map[String, String]): Unit = {
    val mapper = new ObjectMapper()
    val root =
      if (ctx.expected.toFile.exists)
        mapper.readTree(ctx.expected.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    def section(key: String) = Option(root.get(key)) match {
      case Some(n: com.fasterxml.jackson.databind.node.ObjectNode) => n
      case _ => root.putObject(key)
    }
    val rows = section("rows").putObject(scaleKey(ctx))
    cold.sortBy(_.name).foreach(t => rows.put(t.name, t.rows))
    val ds = section("digests").putObject(scaleKey(ctx))
    digests.toSeq.sorted.foreach { case (k, v) => ds.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter().writeValue(ctx.expected.toFile, root)
    Progress(s"recorded ${cold.length} row counts and ${digests.size} digests to ${ctx.expected}")
  }

  /** SHA-256 over the answer's rows, each rendered with doubles to six
    * significant digits, in sorted order.
    */
  def digest(df: org.apache.spark.sql.DataFrame): String = {
    def show(v: Any): String = v match {
      case null => "null"
      case d: Double => f"$d%.6g"
      case f: Float => f"${f.toDouble}%.6g"
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: org.apache.spark.sql.Row => r.toSeq.map(show).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(show).mkString("[", ",", "]")
      case x => x.toString
    }
    val lines = df.collect().map(show).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(16).map(x => f"$x%02x").mkString
  }

  final case class Timed(name: String, seconds: Double, rows: Long, split: Option[Phases.Split])

  private def runOne(ctx: Ctx, name: String, pass: String): Timed = {
    val q = graft.SparkEntry.queries(name)
    val dir = ctx.corpus.toString
    ctx.spark.sparkContext.setJobGroup(name, s"$pass $name", interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      if (ctx.traced) {
        val id = ctx.trace.newId()
        val split = Phases.run(ctx.trace, id, id, s"query.$name.$pass")(q(ctx.spark, dir))(
          graft.Queries.timingAction(name, _))
        Timed(name, (System.nanoTime() - t0) / 1e9, split.rows, Some(split))
      } else {
        val rows = graft.Queries.timingAction(name, q(ctx.spark, dir))
        Timed(name, (System.nanoTime() - t0) / 1e9, rows, None)
      }
    } finally ctx.spark.sparkContext.clearJobGroup()
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val (rowsWanted, digestsWanted) = expected(ctx)
    val want = rowsWanted.map { case (k, v) => k -> (if (ctx.corrupt && k == names.head) v + 1 else v) }
    val qs = names
    val t0 = System.nanoTime()
    val before = Counters.snap()
    val ph0 = ctx.counters.map(_.phases)
    def pass(label: String, order: Seq[String]): Seq[Timed] = {
      val t0 = System.nanoTime()
      val out = order.map { n =>
        val t = runOne(ctx, n, label)
        ctx.check(ctx.record || want.get(n).contains(t.rows),
          s"$n returned ${t.rows} rows, expected ${want.get(n)}")
        t
      }
      Progress(f"$label pass: ${out.length} queries in ${(System.nanoTime() - t0) / 1e9}%.2fs; slowest " +
        out.sortBy(-_.seconds).take(5).map(t => f"${t.name} ${t.seconds}%.2fs").mkString(", "))
      out
    }
    val cold = pass("cold", qs)
    val rng = new Random(ctx.seed)
    val warmUps = (1 to WarmUps).map(i => pass(s"warm-up$i", rng.shuffle(qs)))
    ctx.report.e2e("setup_s", sessionS + (System.nanoTime() - t0) / 1e9, "s",
      s"session + the cold pass from an empty index root + $WarmUps warm-up passes")
    val passes = (1 to math.max(1, ctx.seconds / 4)).map(i => pass(s"warm$i", rng.shuffle(qs)))
    val after = Counters.snap()
    // content checks, outside the timed region
    val digests = digested.map { n =>
      n -> digest(graft.SparkEntry.queries(n)(ctx.spark, ctx.corpus.toString))
    }.toMap
    digests.foreach { case (n, d) =>
      ctx.check(ctx.record || digestsWanted.get(n).contains(d), s"$n answered digest $d, expected ${digestsWanted.get(n)}")
    }
    if (ctx.record) record(ctx, cold, digests)
    figures(ctx, cold, warmUps, passes, Counters.diff(before, after),
      ctx.counters.map(_.phases - ph0.get))
  }

  private def figures(ctx: Ctx, cold: Seq[Timed], warmUps: Seq[Seq[Timed]], passes: Seq[Seq[Timed]],
      fs: Counters.Snap, phases: Option[Phases.Totals]): Unit = {
    val r = ctx.report
    val totals = passes.map(_.map(_.seconds).sum)
    val warmS = Stats.median(totals)
    def warmOf(p: String => Boolean) = Stats.median(passes.map(_.filter(t => p(t.name)).map(_.seconds).sum))
    r.e2e("work_per_s", cold.length / warmS, "1/s",
      s"queries in a warm pass / median warm pass time, ${passes.length} passes of ${cold.length}")
    r.e2e("latency_ms", Stats.kindMedianGeoMean(passes.flatten.map(t => t.name -> t.seconds * 1e3)), "ms",
      "geometric mean over the slice of each query's median warm time")
    r.figure("catalog_cold_s", cold.map(_.seconds).sum, "s", s"first pass, sum of ${cold.length} queries")
    r.figure("catalog_warm_s", warmS, "s", s"median of ${passes.length} warm pass totals")
    r.figure("catalog_dd_s", warmOf(_.startsWith("dd_")), "s", "warm, the dd_* rows")
    if (ctx.traced) {
      names.foreach { n =>
        r.layer(s"query.$n.cold_s", cold.find(_.name == n).map(_.seconds).getOrElse(0.0), "s",
          "catalog_cold_s")
        r.layer(s"query.$n.warm_s", Stats.median(passes.flatMap(_.filter(_.name == n)).map(_.seconds)),
          "s", if (n.startsWith("dd_")) "catalog_dd_s" else "catalog_warm_s")
      }
      // the counters span every pass, so the per-query layers divide by all of them
      val all = cold ++ warmUps.flatten ++ passes.flatten
      val groups = all.map(_.name).toSet
      Phases.layers(ctx, all.flatMap(_.split), all.length, phases.get, fs,
        ctx.counters.get.totals(groups), "catalog_cold_s, catalog_warm_s")
    }
  }
}
