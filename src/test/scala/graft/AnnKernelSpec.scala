package graft

import graft.llm.Similarity
import graft.llm.Similarity.{PqM, PqSub, QHi, QLo}
import org.apache.spark.sql.functions._

/** The shared PQ/ADC kernels of the `sim_*` gates on hand-built frames
  * (query LUT, ADC sum order, encode tie-break), the held-out guard every
  * window-reading gate shares, the source rules that keep the subspace
  * split, the per-subspace pivot and the NN-descent pair scoring and
  * consolidation in their kernels, and the job count of one NN-descent
  * build round. */
class AnnKernelSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def floats(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 2 - 1)
  private def doubles(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextDouble() * 2 - 1)

  test("the query LUT is an index-order double fold of (q - c)^2 per subspace") {
    val qv = floats(PqM * PqSub)
    val book = for (m <- 0 until PqM; code <- 0L until 3L) yield (m, code, doubles(PqSub))
    val lut = Similarity.pqLut(Seq((7L, qv)).toDF("qid", "qv"), book.toDF("m", "code", "cv"))
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("m"), r.getAs[Long]("code"),
        r.getAs[Double]("qd"))).toSeq
    val expected = book.map { case (m, code, cv) =>
      val q = qv.slice(m * PqSub, (m + 1) * PqSub)
      (7L, m, code, q.zip(cv).foldLeft(0.0) { case (acc, (x, y)) =>
        val d = x.toDouble - y
        acc + d * d
      })
    }
    // exact: the same IEEE operations in the same order
    assert(lut.sortBy(r => (r._2, r._3)) === expected.sortBy(r => (r._2, r._3)))
  }

  test("the ADC score adds the per-subspace lookups in subspace order") {
    // 1e16 + 1 rounds back to 1e16: only the order qd0+qd1+qd2+qd3 gives 1.0
    val qd = Seq(1e16, 1.0, -1e16, 1.0)
    val enc = (0 until PqM).map(m => (5L, 11L, m, m.toLong)).toDF("qid", "vec_id", "m", "code")
    val lut = (0 until PqM).map(m => (5L, m, m.toLong, qd(m))).toDF("qid", "m", "code", "qd")
    val rows = Similarity.adcSum(enc, lut, Seq("qid", "m", "code")).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("qid") === 5L && rows.head.getAs[Long]("vec_id") === 11L)
    assert(rows.head.getAs[Double]("score") === ((1e16 + 1.0) + -1e16) + 1.0)
    assert(rows.head.getAs[Double]("score") === 1.0)
  }

  test("encode ties go to the lower code") {
    val sv = doubles(PqSub)
    val far = sv.map(_ + 0.5)
    // codes 9 and 4 hold the subvector itself; listed high code first
    val book = Seq((0, 9L, sv), (0, 2L, far), (0, 4L, sv), (1, 3L, sv), (1, 1L, far))
      .toDF("m", "code", "cv")
    val sub = Seq((1L, 0, sv), (1L, 1, far), (2L, 0, far)).toDF("vec_id", "m", "sv")
    val codes = Similarity.pqEncode(sub, book).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m")) -> r.getAs[Long]("code")).toMap
    assert(codes === Map((1L, 0) -> 4L, (1L, 1) -> 1L, (2L, 0) -> 2L))
  }

  test("every gate that reads the held-out window fails on a corpus smaller than the window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_heldout").toString
    val n = QHi - 8
    core.tbl(spark, sfDir, "embeddings").filter(col("vec_id") < n)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val gates = Seq(Similarity.simAnnRecallSet, Similarity.simAnnFrontier,
      Similarity.simPqCodebookSize, Similarity.simIvfCells, Similarity.simAnnDeployed,
      Similarity.simDeployedLevers, Similarity.simDeployedFrontier, Similarity.simAnnFiltered,
      Similarity.simIndexAppend, Similarity.simBookAppend, Similarity.simDimTruncation,
      Similarity.simHardNegatives, Similarity.simAnnNegatives, Similarity.simGraphServe,
      Similarity.simGraphHier, Similarity.simGraphDeployed, Similarity.simServeFreshness,
      Similarity.simServePolicy)
    val msg = s"the recall harness needs vec_id $QLo..${QHi - 1} as held-out queries (n=$n < $QHi)"
    gates.foreach { q =>
      val e = intercept[IllegalArgumentException](q.run(spark, dir).collect())
      assert(e.getMessage === s"requirement failed: $msg", q.name)
    }
  }

  test("an NN-descent build round counts its candidates and signs its list in two actions") {
    val n = 60L
    val e = core.tbl(spark, sfDir, "embeddings").filter(col("vec_id") < n)
      .select("vec_id", "embedding").localCheckpoint(true)
    // the ring s -> s+1..s+3 (mod n) as the current kept list
    val ring = for (s <- 0L until n; j <- 1L to 3L) yield (s, (s + j) % n)
    val cur = ring.toDF("s", "t").localCheckpoint(true)
    val (((next, nc, sig), jobs), left) =
      persistsOf(jobsOf(Similarity.nnCountedRound(e, cur)))
    // the distinct co-neighbor proposals of the symmetrized ring
    val nbrs = (ring ++ ring.map(_.swap)).toSet[(Long, Long)].groupMap(_._1)(_._2)
    val cand = (for (ns <- nbrs.values; t <- ns; q <- ns if t != q) yield (t, q)).toSet
    assert(nc === cand.size.toLong)
    // every node has 12 candidates, fewer than the kept-list cap, so the
    // next list is the whole candidate table
    assert(next.select("s", "t").as[(Long, Long)].collect().toSet === cand ++ ring)
    assert(sig === graft.llm.Fixpoint.frameSig(next, "s", "t"))
    // two actions — the count and the signature — plus the static plan's
    // two broadcast builds; only the kept list's checkpoint is left behind
    assert(jobs === 4)
    assert(left === core.checkpointsOf(next).map(_.id).toSet)
  }

  /** Source lines of `src/main/scala` matching a rule's pattern outside
    * the rule's kernels, as "file:line: text". A line's owner is the
    * nearest `def` or `class` above it. */
  private def offenders(rules: Seq[(scala.util.matching.Regex, Set[String])]): Seq[String] = {
    val root = java.nio.file.Paths.get(s"${sys.props("user.dir")}/src/main/scala")
    val ownerLine =
      """^\s*(?:private(?:\[\w+\])?\s+)?(?:final\s+)?(?:def|class)\s+(\w+)""".r.unanchored
    val files = java.nio.file.Files.walk(root).iterator()
    var out = Seq.empty[String]
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala")) {
        val lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").linesIterator.toVector
        for ((line, i) <- lines.zipWithIndex; (pat, kernels) <- rules
             if pat.findFirstIn(line).isDefined) {
          val owner = (i to 0 by -1).iterator.map(lines).collectFirst {
            case ownerLine(name) => name
          }
          if (!owner.exists(kernels))
            out :+= s"${root.relativize(f)}:${i + 1}: ${line.trim}"
        }
      }
    }
    out
  }

  test("the subspace split and the per-subspace pivot live only in their kernels") {
    val found = offenders(Seq(
      """(?<![\w.])slice\(.*PqSub""".r -> Set("pqSub"),
      """max\(when\(col\("m"\)""".r -> Set("pqWide")))
    assert(found.isEmpty, s"use Similarity.pqSplit / pqWide instead:\n${found.mkString("\n")}")
  }

  test("NN-descent scoring and consolidation live only in their kernels") {
    // a pair scoring (nnTopK) belongs to the init, the fold seed, the
    // kept-list step or the exact referee; an append-round loop belongs to
    // consolidateRounds
    val found = offenders(Seq(
      """nnTopK\(""".r -> Set("nnTopK", "nnInit", "foldSeedBy", "nnKeep", "NnExactReferee"),
      """NndAppendRounds\)\.foldLeft""".r -> Set("consolidateRounds")))
    assert(found.isEmpty,
      s"use Similarity.nnInit / foldSeedBy / nnRound / consolidateRounds instead:\n${found.mkString("\n")}")
  }
}
