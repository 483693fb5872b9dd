package graft.similarity

import graft.SparkSpec

/** x73 pins: a planted mislabel is flagged, and the whole per-label
  * report reproduces an independent single-threaded fold that replicates
  * the fixed-point arithmetic exactly (floor(x·1e8) longs, double cosine,
  * (-cos, vec_id) ranking).
  */
class KnnLabelAuditSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 64

  /** 51 vectors in 3 orthogonal clusters (ids 0-16 label 0 on axis 0,
    * 17-33 label 1 on axis 1, 34-50 label 2 on axis 2) with deterministic
    * jitter — EXCEPT vec 17, which sits spatially in cluster A while
    * keeping label 1 (the planted mislabel). Ids 0/17/34 are the 1-in-17
    * audit sample.
    */
  private def fixture: Seq[(Long, Array[Float], Int)] =
    (0 until 51).map { i =>
      val label = i / 17
      val axis = if (i == 17) 0 else label // the mislabel lives in A-space
      val emb = Array.tabulate(Dim) { d =>
        val jitter = ((i * 31 + d * 17) % 7 - 3) * 0.002
        ((if (d == axis) 1.0 else 0.0) + jitter).toFloat
      }
      (i.toLong, emb, label)
    }

  private def brute(rows: Seq[(Long, Array[Float], Int)])
      : Map[Long, (Long, Long, Long)] = {
    def fix(a: Array[Float]): Array[Long] =
      a.map(x => math.floor(x.toDouble * 1e8).toLong)
    val fixed = rows.map { case (id, e, l) => (id, fix(e), l) }
    val nrm = fixed.map { case (id, f, _) =>
      id -> f.map(x => x * x).sum
    }.toMap
    val perQ = fixed.filter(_._1 % 17 == 0).map { case (qid, qf, ql) =>
      val scored = fixed.filter(_._1 != qid).map { case (vid, vf, vl) =>
        val dot = qf.zip(vf).map { case (a, b) => a * b }.sum
        val cos = dot.toDouble /
          (math.sqrt(nrm(qid).toDouble) * math.sqrt(nrm(vid).toDouble))
        (cos, vid, vl)
      }
      val top = scored.sortBy(t => (-t._1, t._2)).take(10)
      (ql, top.count(_._3 == ql).toLong)
    }
    perQ.groupBy(_._1).map { case (l, qs) =>
      val agrees = qs.map(_._2)
      (l.toLong, (qs.size.toLong,
        10000L * agrees.sum / (10L * qs.size),
        agrees.count(_ * 2 < 10).toLong))
    }
  }

  test("planted mislabel is suspect; full report matches the fold") {
    val dir = tempDir("graft-x73").toString
    val rows = fixture
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SimilarityQueries.x73KnnLabelAudit.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === brute(rows))
    // label 1's only audited query IS the mislabel: zero agreement
    assert(got(1L) === ((1L, 0L, 1L)))
    // clean clusters agree perfectly
    assert(got(0L)._2 === 10000L)
    assert(got(2L)._2 === 10000L)
  }

  test("sf0.001 report is deterministic and structurally sound") {
    val a = SimilarityQueries.x73KnnLabelAudit.run(spark, sfDir).collect()
    val b = SimilarityQueries.x73KnnLabelAudit.run(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10000) // bp range
      assert(r.getLong(3) <= r.getLong(1)) // suspects ≤ audited
    }
  }
}
