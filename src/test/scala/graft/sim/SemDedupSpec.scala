package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // seeded random integer-component vectors: organic cosines stay far from
  // the 0.95 threshold, so only planted duplicates collapse
  private def randVec(i: Int, dim: Int = 16): Array[Float] = {
    val rnd = new scala.util.Random(i)
    Array.fill(dim)((rnd.nextInt(11) - 5).toFloat)
  }

  test("exact copies collapse per group, min-id keeper on ties, singletons survive") {
    val base = (0 until 40).map(i => (i.toLong, randVec(i)))
    val copies = (0 until 10).map(i => ((i + 1000).toLong, randVec(i)))
    val df = (base ++ copies).toDF("vec_id", "embedding")
    val out = SemDedup.semanticDedup(df, threshold = 0.95, nlist = 8)
    val rows = out.as[(Long, Long, Double, Boolean)].collect()
    out.unpersist(blocking = true) // caller obligation
    val byId = rows.map(r => r._1 -> r).toMap
    assert(rows.length === 50, "every input id comes back")
    (0 until 10).foreach { i =>
      // copy pair shares a group; identical centroid cosine ties → min id kept
      assert(byId(i.toLong)._2 === byId((i + 1000).toLong)._2)
      assert(byId(i.toLong)._4 === true)
      assert(byId((i + 1000).toLong)._4 === false)
      assert(byId(i.toLong)._3 === byId((i + 1000).toLong)._3)
    }
    (10 until 40).foreach { i =>
      assert(byId(i.toLong)._4 === true, s"singleton $i must be kept")
      assert(byId(i.toLong)._2 === i.toLong, s"singleton $i is its own group")
    }
  }

  test("transitive chains merge: A~B~C one group even when cos(A,C) < threshold") {
    // A at 0°, B at 15°, C at 30° in the (d0,d1) plane: cos(15°)=0.966 links
    // A-B and B-C, cos(30°)=0.866 does NOT link A-C — the group must still
    // be {A,B,C} via transitivity. A far-away blob anchors the second cell.
    def planar(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array.tabulate(16)(d =>
        if (d == 0) (10 * math.cos(r)).toFloat
        else if (d == 1) (10 * math.sin(r)).toFloat else 0f)
    }
    val blob = (10 until 20).map(i => (i.toLong,
      Array.tabulate(16)(d => if (d == 3) -50f else 0f)))
    val df = (Seq((1L, planar(0)), (2L, planar(15)), (3L, planar(30))) ++ blob)
      .toDF("vec_id", "embedding")
    val out = SemDedup.semanticDedup(df, threshold = 0.95, nlist = 2)
    val rows = out.as[(Long, Long, Double, Boolean)].collect()
    out.unpersist(blocking = true)
    val chain = rows.filter(_._1 <= 3)
    assert(chain.map(_._2).toSet.size === 1, s"A,B,C must share a group: ${chain.toSeq}")
    assert(chain.count(_._4) === 1, "exactly one keeper per group")
    // the far blob is untouched: identical vectors all collapse to one keeper
    val blobRows = rows.filter(_._1 >= 10)
    assert(blobRows.count(_._4) === 1)
    assert(blobRows.forall(_._2 === 10L))
  }

  test("bounded residency + occupancy guard") {
    val before = cachedIds
    val df = (0 until 30).map(i => (i.toLong, randVec(i + 500))).toDF("vec_id", "embedding")
    val out = SemDedup.semanticDedup(df, threshold = 0.95, nlist = 4)
    assert((cachedIds -- before).size === 1,
      "only the node-sized result stays cached after semanticDedup")
    out.unpersist(blocking = true)
    assert((cachedIds -- before).isEmpty)

    // degenerate corpus: every vector identical → one cell; guard fires and
    // releases everything it aborted in front of
    val degenerate = (0 until 300).map(i => (i.toLong, Array.fill(16)(1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SemDedup.semanticDedup(degenerate, threshold = 0.95, nlist = 4,
        maxCellOccupancy = 50)
    }
    assert(e.getMessage.contains("semanticDedup"))
    assert((cachedIds -- before).isEmpty, "guard abort must release all caches")
  }

  test("semanticDecontaminate: planted eval leakage flagged with its " +
      "match, clean vectors stay clean, planted recall is total") {
    // corpus ids 0..39; the "eval set" reuses vectors 0..7 under fresh
    // ids — an identical vector shares its copy's rank-1 cell (identical
    // rounded distances), so every planted leak MUST be flagged even at
    // nprobe = 1-ish blocking
    val corpus = (0 until 40).map(i => (i.toLong, randVec(i)))
      .toDF("vec_id", "embedding")
    val reference = (0 until 8).map(i => ((i + 1000).toLong, randVec(i)))
      .toDF("vec_id", "embedding")
    val out = SemDedup.semanticDecontaminate(corpus, reference,
        threshold = 0.999, nlist = 4, stride = 1, nprobe = 2)
      .as[(Long, Int, Option[Long], Option[Double])].collect()
    assert(out.length === 40, "one row per corpus vector")
    val byId = out.map(r => r._1 -> r).toMap
    (0 until 8).foreach { i =>
      val (_, c, m, cos) = byId(i.toLong)
      assert(c === 1 && m === Some(i + 1000L) && cos === Some(1.0),
        s"planted leak $i: got ($c, $m, $cos)")
    }
    (8 until 40).foreach { i =>
      val (_, c, m, _) = byId(i.toLong)
      assert(c === 0 && m.isEmpty, s"clean vector $i flagged: ($c, $m)")
    }
  }
}
