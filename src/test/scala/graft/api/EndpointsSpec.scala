package graft.api

import graft.SparkSpec
import graft.functions.Codecs
import org.apache.spark.sql.functions.col

/** All eight read endpoints driven against the sf0.001 testdata. */
class EndpointsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("pulses list: newest first, links repaired, range filter works") {
    val rows = Endpoints.pulses(spark, dir,
      Endpoints.PageParams(limit = 5), fromPulse = Some(473500L), toPulse = Some(473900L))
      .collect()
    assert(rows.length == 5)
    val pns = rows.map(_.getAs[Long]("pulse_number"))
    assert(pns.sameElements(pns.sorted.reverse))
    assert(pns.forall(p => p >= 473500L && p <= 473900L))
  }

  test("pulses list: total reflects the filtered set, not the page") {
    val rows = Endpoints.pulses(spark, dir,
      Endpoints.PageParams(limit = 3), fromPulse = Some(473500L), toPulse = Some(473520L))
      .collect()
    assert(rows.length == 3)
    val total = rows.head.getAs[Long]("total")
    assert(total > 3, s"total $total should count the whole filtered set")
    assert(rows.forall(_.getAs[Long]("total") == total))
  }

  test("pulses list: timestamp range filter bounds the page") {
    // pulse N covers hour N: ts_sec in [N*3600, (N+1)*3600)
    val lo = 473510L * 3600
    val hi = 473515L * 3600 - 1
    val rows = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 100),
      fromTimestamp = Some(lo), toTimestamp = Some(hi)).collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val t = r.getAs[Long]("timestamp"); t >= lo && t <= hi
    })
    assert(rows.forall { r =>
      val p = r.getAs[Long]("pulse_number"); p >= 473510L && p < 473515L
    })
  }

  test("pulses page edges: -1 sentinels patched via J2 point lookups (desc pages)") {
    // The sf0.001 chain has gaps, so pick a pulse whose ±1 neighbors BOTH
    // exist, filter the page to exactly that pulse, and require the edge
    // patch to resolve prev/next from the full table like the reference
    // (storage.go:326-379) — the in-page repair alone would leave -1.
    val present = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1000))
      .collect().map(_.getAs[Long]("pulse_number")).toSet
    val p = present.find(p => present(p - 1) && present(p + 1)).get
    val row = Endpoints.pulses(spark, dir,
      Endpoints.PageParams(limit = 10), fromPulse = Some(p), toPulse = Some(p))
      .collect().head
    assert(row.getAs[Long]("prev_pulse_number") == p - 1,
      "single-row page: prev must be patched from the full table")
    assert(row.getAs[Long]("next_pulse_number") == p + 1,
      "single-row page: next must be patched from the full table")
    // and across a true MID-CHAIN gap the sentinel must SURVIVE the
    // patch — picked deterministically below the max pulse (Set.find's
    // hash order could select the chain end, which the next test already
    // covers, leaving the gap behavior permanently unexercised)
    val maxPulse = present.max
    present.filter(p => p < maxPulse && !present(p + 1)).minOption.foreach { g =>
      val r = Endpoints.pulses(spark, dir,
        Endpoints.PageParams(limit = 10), fromPulse = Some(g), toPulse = Some(g))
        .collect().head
      assert(r.getAs[Long]("next_pulse_number") == -1L,
        "a missing successor must stay -1 after patching")
    }
  }

  test("pulses page edges: chain ends stay -1 when no neighbor exists anywhere") {
    val all = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1000))
      .collect().sortBy(_.getAs[Long]("pulse_number"))
    assert(all.head.getAs[Long]("prev_pulse_number") == -1L,
      "the globally first pulse has no predecessor to patch")
    assert(all.last.getAs[Long]("next_pulse_number") == -1L,
      "the globally last pulse has no successor to patch")
  }

  test("pulse point lookup hits and misses") {
    val hit = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1)).collect()(0)
    val p = hit.getAs[Long]("pulse_number")
    assert(Endpoints.pulse(spark, dir, p).count() == 1)
    assert(Endpoints.pulse(spark, dir, 1L).count() == 0)
  }

  test("jet drops by pulse with jet cursor") {
    // a MULTI-JET pulse (the sparse sf0.001 corpus has single-jet
    // pulses, where any cursor either keeps everything or nothing)
    val anyPulse = graft.model.Domain.servedJetDrops(spark, dir)
      .groupBy("pulse_number").count().filter(col("count") >= 2)
      .orderBy("pulse_number").head().getLong(0)
    val all = Endpoints.jetDropsByPulse(spark, dir, anyPulse).collect()
    assert(all.nonEmpty)
    val jets = all.map(_.getAs[String]("jet_id"))
    assert(jets.sameElements(jets.sorted))
    // cursor FROM THE DATA (the pulse's own second jet), so the expected
    // remainder is nonempty by construction — a fixed "1" cursor on a
    // sparse pulse can legitimately filter everything, making the forall
    // vacuous and an over-filtering regression invisible
    assert(jets.length >= 2, s"fixture pulse $anyPulse needs 2+ jets")
    val cursor = jets(1)
    val cursored = Endpoints.jetDropsByPulse(spark, dir, anyPulse,
        fromJetId = Some(cursor))
      .collect()
      .filter(_.getAs[Boolean](graft.operators.Pagination.PageRowMarker))
      .map(_.getAs[String]("jet_id"))
    assert(cursored.nonEmpty, s"cursor at the pulse's own jet $cursor kept nothing")
    assert(cursored.forall(_ >= cursor))
    assert(cursored.sameElements(jets.filter(_ >= cursor)),
      "the cursored page is exactly the tail of the pulse's sorted jets")
  }

  test("jet drop by id: valid, root-star, and malformed ids") {
    val anyDrop = Endpoints.jetDropsByPulse(spark, dir, 473353L).collect().headOption
    anyDrop.foreach { d =>
      val id = d.getAs[String]("jet_drop_id")
      assert(Endpoints.jetDropById(spark, dir, id).get.count() == 1)
    }
    assert(Endpoints.jetDropById(spark, dir, "012:999").isEmpty) // malformed
    assert(Endpoints.jetDropById(spark, dir, "*:473353").isDefined) // root parses
  }

  test("jet drop records with keyset resume") {
    // a 2+ record drop ANYWHERE in the corpus, so a resume cursor
    // strictly inside its order range exists — a fixed drop on the
    // sparse sf0.001 corpus can have a single record, leaving the
    // resumed page empty and the forall vacuous
    // unmerged pulses only: a merged (every-4th) pulse's drop carries the
    // COARSENED depth-2 jet id, which never equals a record's leaf jet
    val fat = graft.model.Domain.servedJetDrops(spark, dir)
      .filter(col("record_amount") >= 2 && col("pulse_number") % 4 =!= 0)
      .orderBy("pulse_number", "jet_id").head()
    val fatPulse = fat.getAs[Long]("pulse_number")
    val dropId = s"${fat.getAs[String]("jet_id")}:$fatPulse"
    val recs = Endpoints.jetDropRecords(spark, dir, dropId).get.collect()
    assert(recs.nonEmpty)
    val resumed = Endpoints.jetDropRecords(spark, dir, dropId,
      fromIndex = Some(s"$fatPulse:2")).get.collect()
      .filter(_.getAs[Boolean](graft.operators.Pagination.PageRowMarker))
    assert(resumed.nonEmpty, "resume inside the drop must keep rows")
    assert(resumed.forall(_.getAs[Int]("order") >= 2))
  }

  test("jet drops by jet prefix: subtree only, mixed sorts") {
    val asc = Endpoints.jetDropsByJetId(spark, dir, "10", limit = 50).collect()
    assert(asc.nonEmpty)
    assert(asc.forall(r => r.getAs[String]("jet_id").startsWith("10")))
    val desc = Endpoints.jetDropsByJetId(spark, dir, "10", pulseAsc = false, limit = 50)
      .collect().map(_.getAs[Long]("pulse_number"))
    assert(desc.sameElements(desc.sorted.reverse))
  }

  test("object lifeline asc/desc with validation") {
    val asc = Endpoints.objectLifeline(spark, dir, 7L).collect()
    assert(asc.nonEmpty)
    assert(asc.forall(_.getAs[Long]("object_reference") == 7L))
    val desc = Endpoints.objectLifeline(spark, dir, 7L, asc = false,
      page = Endpoints.PageParams(limit = 3)).collect()
    assert(desc.length == 3)
    assert(desc.head.getAs[Long]("pulse_number") >= desc.last.getAs[Long]("pulse_number"))
    intercept[IllegalArgumentException] {
      Endpoints.objectLifeline(spark, dir, 7L, page = Endpoints.PageParams(limit = 0))
    }
    intercept[IllegalArgumentException] {
      Endpoints.objectLifeline(spark, dir, 7L, page = Endpoints.PageParams(offset = -1))
    }
  }

  test("pulses index fast path: every page shape matches the scan path " +
      "row-for-row (a no-op timestamp bound forces the scan)") {
    // fromTimestamp = MinValue filters nothing but routes to the scan
    // path (the index cannot answer timestamp bounds), so the two paths
    // are comparable on identical semantics
    def both(page: Endpoints.PageParams, fromP: Option[Long] = None,
        toP: Option[Long] = None, asc: Boolean = false) = {
      val fast = Endpoints.pulses(spark, dir, page, fromP, toP, asc = asc)
      val scan = Endpoints.pulses(spark, dir, page, fromP, toP,
        fromTimestamp = Some(Long.MinValue), asc = asc)
      assert(fast.columns.toSeq == scan.columns.toSeq)
      (fast.collect().map(_.toSeq).toSeq, scan.collect().map(_.toSeq).toSeq)
    }
    val total = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1))
      .collect().head.getAs[Long]("total").toInt
    val anyPulse = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1),
      asc = true).collect().head.getAs[Long]("pulse_number")
    val shapes = Seq(
      ("desc first page", both(Endpoints.PageParams(limit = 5))),
      ("asc first page", both(Endpoints.PageParams(limit = 5), asc = true)),
      ("mid offset desc", both(Endpoints.PageParams(limit = 3, offset = 4))),
      ("mid offset asc", both(Endpoints.PageParams(limit = 3, offset = 4), asc = true)),
      ("offset past end", both(Endpoints.PageParams(limit = 3, offset = total + 7))),
      ("pulse range", both(Endpoints.PageParams(limit = 100),
        fromP = Some(anyPulse + 10), toP = Some(anyPulse + 60))),
      ("range + offset", both(Endpoints.PageParams(limit = 2, offset = 1),
        fromP = Some(anyPulse + 10), toP = Some(anyPulse + 60), asc = true)),
      ("empty range", both(Endpoints.PageParams(limit = 3),
        fromP = Some(anyPulse - 1000), toP = Some(anyPulse - 900))),
      ("limit 1 last", both(Endpoints.PageParams(limit = 1, offset = total - 1))))
    shapes.foreach { case (name, (fast, scan)) =>
      assert(fast == scan, s"$name: fast=$fast scan=$scan")
    }
  }

  test("pulses index fast path: an out-of-range or empty-range page runs " +
      "ZERO Spark jobs (total answers from the driver-held index)") {
    val total = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1))
      .collect().head.getAs[Long]("total").toInt
    val jobs = jobsDuring {
      val out = Endpoints.pulses(spark, dir,
        Endpoints.PageParams(limit = 3, offset = total + 5)).collect()
      assert(out.length == 1 &&
        !out.head.getAs[Boolean](graft.operators.Pagination.PageRowMarker))
      assert(out.head.getAs[Long]("total") == total)
    }
    assert(jobs == 0, s"total-only page must not scan: ran $jobs jobs")
  }

  test("pulses out-of-range page: true total carried, same job count as in-range") {
    // warm the shape (spine build + first-plan jobs out of the count)
    Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 3)).collect()

    val total = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 3))
      .collect().head.getAs[Long]("total")
    assert(total > 0)

    var inRange: Array[org.apache.spark.sql.Row] = null
    var outOfRange: Array[org.apache.spark.sql.Row] = null
    val inRangeJobs = jobsDuring {
      inRange = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 3)).collect()
    }
    val outJobs = jobsDuring {
      outOfRange = Endpoints.pulses(spark, dir,
        Endpoints.PageParams(limit = 3, offset = total.toInt + 100)).collect()
    }
    // the out-of-range page is a marker-false sentinel carrying the TRUE
    // total — no page rows, no second filtered-count probe
    assert(inRange.length == 3)
    assert(outOfRange.length == 1)
    assert(!outOfRange.head.getAs[Boolean](
      graft.operators.Pagination.PageRowMarker))
    assert(outOfRange.head.getAs[Long]("total") == total)
    assert(outJobs <= inRangeJobs,
      s"out-of-range page ran $outJobs jobs vs $inRangeJobs for an in-range page — " +
        "the fused total must not re-run the filtered query")
  }

  test("every offset-capable list endpoint: the out-of-range page carries the " +
      "true total in the same single pass (one mechanism, job-count pinned)") {
    val marker = graft.operators.Pagination.PageRowMarker
    val anyPulse = 473353L
    val dropId = Endpoints.jetDropsByPulse(spark, dir, anyPulse)
      .collect().head.getAs[String]("jet_drop_id")
    val shapes: Seq[(String, Int => Array[org.apache.spark.sql.Row])] = Seq(
      ("drops_by_pulse", off => Endpoints.jetDropsByPulse(spark, dir, anyPulse,
        page = Endpoints.PageParams(limit = 2, offset = off)).collect()),
      ("drop_records", off => Endpoints.jetDropRecords(spark, dir, dropId,
        page = Endpoints.PageParams(limit = 2, offset = off)).get.collect()),
      ("lifeline", off => Endpoints.objectLifeline(spark, dir, 7L,
        page = Endpoints.PageParams(limit = 2, offset = off)).collect()))
    shapes.foreach { case (name, run) =>
      run(0) // warm: first-plan/codegen jobs out of the pinned counts
      var in: Array[org.apache.spark.sql.Row] = null
      var out: Array[org.apache.spark.sql.Row] = null
      val inJobs = jobsDuring { in = run(0) }
      assert(in.nonEmpty && in.forall(_.getAs[Boolean](marker)), name)
      val total = in.head.getAs[Long]("total")
      assert(total > 0, name)
      val outJobs = jobsDuring { out = run(total.toInt + 50) }
      // one marker-false sentinel row carrying the true filtered count —
      // never an empty frame, never a second count probe
      assert(out.length == 1 && !out.head.getAs[Boolean](marker), name)
      assert(out.head.getAs[Long]("total") == total, name)
      assert(outJobs <= inJobs,
        s"$name: out-of-range page ran $outJobs jobs vs $inJobs in-range — " +
          "the carried total must not re-run the filtered query")
    }
  }

  test("search dispatches to all four target kinds") {
    val p = Endpoints.pulses(spark, dir, Endpoints.PageParams(limit = 1))
      .collect()(0).getAs[Long]("pulse_number")
    assert(Endpoints.search(spark, dir, p.toString)._1 == "pulse")
    assert(Endpoints.search(spark, dir, p.toString)._2.count() == 1)
    val (kind, df) = Endpoints.search(spark, dir, s"000:$p")
    assert(kind == "jet_drop" && df.count() <= 1)
    val objRef = Array.fill[Byte](28)(0) ++
      java.nio.ByteBuffer.allocate(8).putLong(7L).array()
    assert(Endpoints.search(spark, dir,
      Codecs.referenceToString(objRef))._1 == "lifeline")
    assert(Endpoints.search(spark, dir, "garbage")._1 == "none")
  }
}
