package graft

import graft.transform.Cleaning
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants (SURVEY.md §5 test plan): each property
  * evaluates one generated batch through the real Column expressions, so
  * the laws hold for the codegen'd implementations, not a Scala re-model.
  * Driven by raw ScalaCheck (the scalatest bridge artifact isn't on the
  * offline classpath); each property runs 5 batches — every batch is a
  * full Spark job, so keep the counts small. */
class PropertySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def check(name: String)(prop: Prop): Unit = test(name) {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  check("clamp output always lands in [lo, hi] and fixes points already inside")(
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000))) { xs =>
      val out = xs.toDF("x")
        .select(col("x"), Cleaning.clamp(col("x"), lit(1), lit(5)).as("c"))
        .as[(Int, Int)].collect()
      out.forall { case (_, c) => c >= 1 && c <= 5 } &&
        out.forall { case (x, c) => !(x >= 1 && x <= 5) || c == x }
    })

  check("Morton interleave is bijective: de-interleaving the z-code recovers both keys")(
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(0L, 16777215L), Gen.chooseNum(0L, 16777215L)))) { xs =>
      // decode = gather even bits back into x, odd bits into y — if this
      // round-trips, distinct (x, y) always map to distinct z, which is
      // what makes z-range bucketing a lossless layout key
      val decX = (0 until 24).map(i => s"(((z >> ${2 * i}) & 1) << $i)").mkString(" + ")
      val decY = (0 until 24).map(i => s"(((z >> ${2 * i + 1}) & 1) << $i)").mkString(" + ")
      val out = xs.toDF("x", "y")
        .selectExpr(s"x", "y", s"(${graft.sources.Ingest.mortonSql("x", "y")}) AS z")
        .selectExpr("x", "y", s"($decX) AS dx", s"($decY) AS dy")
        .as[(Long, Long, Long, Long)].collect()
      out.forall { case (x, y, dx, dy) => dx == x && dy == y }
    })

  check("sentiment is total over clamped ratings with the reference buckets")(
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-10, 20))) { xs =>
      val out = xs.toDF("r")
        .select(Cleaning.clamp(col("r"), lit(1), lit(5)).as("c"))
        .select(col("c"), Cleaning.sentiment(col("c")).as("s"))
        .as[(Int, String)].collect()
      out.forall { case (c, s) =>
        (c <= 2 && s == "negative") || (c == 3 && s == "neutral") || (c >= 4 && s == "positive")
      }
    })

  check("dedup keep-first keeps exactly one row per key and is idempotent")(
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 9), Gen.alphaStr.map(_.take(4))))) { kvs =>
      val df = kvs.toDF("k", "v")
      val once = Cleaning.dedupKeepFirst(df, Seq("k"), Seq(col("v").asc_nulls_first))
      val onceRows = once.collect().toSet
      val twice = Cleaning.dedupKeepFirst(once, Seq("k"), Seq(col("v").asc_nulls_first))
      onceRows.size == kvs.map(_._1).distinct.size &&
        twice.collect().toSet == onceRows
    })

  check("domain validation is closed over the valid set")(
    Prop.forAll(Gen.nonEmptyListOf(Gen.oneOf("A", "B", "C", "D", "bad", ""))) { xs =>
      val valid = Seq("A", "B", "C")
      xs.toDF("t")
        .select(Cleaning.validateDomain(col("t"), valid, "A").as("t"))
        .as[String].collect().forall(valid.contains)
    })

  check("surrogate keys are dense, key-ordered, and input-permutation-invariant")(
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 10000)).map(_.distinct)) { keys =>
      val fromShuffled = uncoalesced { // numbering crosses the sort's 4 partitions
        graft.model.Warehouse
          .withSurrogateKey(scala.util.Random.shuffle(keys).toDF("bk"), "bk", "sk")
          .select("sk", "bk").as[(Long, Int)].collect()
      }.sortBy(_._1)
      fromShuffled.map(_._1).toSeq == (1L to keys.size.toLong) &&
        fromShuffled.map(_._2).toSeq == keys.sorted.toSeq
    })

  check("upsert is idempotent and append-if-absent never changes existing rows")(
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 20), Gen.alphaStr.map("e" + _.take(3)))),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 20), Gen.alphaStr.map("i" + _.take(3))))
    ) { (eRows, iRows) =>
      val e = eRows.distinctBy(_._1).toDF("k", "v")
      val i = iRows.distinctBy(_._1).toDF("k", "v")
      val up1 = graft.model.Warehouse.upsert(e, i, Seq("k")).collect().toSet
      val up2 = graft.model.Warehouse
        .upsert(graft.model.Warehouse.upsert(e, i, Seq("k")), i, Seq("k")).collect().toSet
      val app = graft.model.Warehouse.appendIfAbsent(e, i, Seq("k"))
      up1 == up2 &&
        app.join(e, Seq("k"), "left_semi").collect().toSet == e.collect().toSet
    })

  check("zip_with shingle/bigram builders match the naive sliding-window reference")(
    Prop.forAll(Gen.listOf(Gen.oneOf("a", "b", "cc", "d1", "ee", "f"))) { ts =>
      // the O(tokens) zip_with construction (llm.Dedup) vs a driver-side
      // sliding-window model — the refactor away from element_at-in-lambda
      // must be result-identical on every length, including 0/1/2 tokens
      val text = ts.mkString(" ")
      val row = Seq(Tuple1(text)).toDF("text")
        .select(
          llm.Dedup.shingles3(split(col("text"), "\\s+")).as("sh"),
          llm.Dedup.bigrams2(split(col("text"), "\\s+")).as("bg"))
        .head()
      val toks = text.split("\\s+").toSeq.filter(_ => text.nonEmpty)
      def ref(n: Int) =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
      row.getSeq[String](0) == ref(3) && row.getSeq[String](1) == ref(2)
    })

  check("chunk windows tile any document: starts stride 24, full coverage, len = min(32, rest)")(
    Prop.forAll(Gen.chooseNum(1, 200)) { n =>
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val rows = Seq((1L, text)).toDF("doc_id", "text")
        .transform { df =>
          val dir = java.nio.file.Files.createTempDirectory("graft_chunk_prop").toString
          df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
          llm.TextOps.tChunkWindows.run(SparkSpec.spark, dir)
        }
        .select("win_id", "tok_start", "win_len")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val expected = {
        val k = if (n > 32) math.ceil((n - 32) / 24.0).toInt else 0
        (0 to k).map(i => (i.toLong, i * 24L, math.min(32L, n - i * 24L)))
      }
      rows.toSeq == expected &&
        rows.last._2 + rows.last._3 == n // the final window ends exactly at n
    })

  check("graft_dot is bit-identical to a sequential driver fold on arbitrary float arrays")(
    Prop.forAll(
      Gen.chooseNum(1, 64).flatMap(n => Gen.zip(
        Gen.listOfN(n, Gen.chooseNum(-1e6f, 1e6f)),
        Gen.listOfN(n, Gen.chooseNum(-1e6f, 1e6f))))
    ) { case (a, b) =>
      val got = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(call_function("graft_dot", col("a"), col("b")))
        .head().getDouble(0)
      var acc = 0.0
      for (i <- a.indices) acc += a(i).toDouble * b(i).toDouble
      java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(acc)
    })

  private val wsChars = Gen.oneOf(' ', '\t', '\n', '\r')
  private val noisyText: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar, 2 -> wsChars)).map(_.mkString)

  check("whitespace normalization is idempotent and invariant under injected blank runs")(
    Prop.forAll(noisyText) { s =>
      val out = Seq(s).toDF("t")
        .select(
          llm.Curation.normalizeWs(col("t")).as("n1"),
          llm.Curation.normalizeWs(llm.Curation.normalizeWs(col("t"))).as("n2"),
          // re-noise: pad + triple every space + trailing blanks, then normalize
          llm.Curation.normalizeWs(concat(lit(" \t"),
            regexp_replace(llm.Curation.normalizeWs(col("t")), " ", "   "),
            lit("\n\r "))).as("n3"))
        .head()
      val (n1, n2, n3) = (out.getString(0), out.getString(1), out.getString(2))
      n1 == n2 && n1 == n3 &&
        !n1.exists(c => c == '\t' || c == '\n' || c == '\r') && !n1.contains("  ")
    })

  check("gap sessionization matches a single-node reference on generated event sets")(
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 8000L)))) { rows =>
      val gap = 1000L
      val got = analytics.Behavior.sessionize(
        rows.map { case (u, us) => (u, us, 1.0) }.toDF("user_id", "us", "value"),
        gap)
        .select("user_id", "session_id", "start_us", "end_us", "n_events")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // reference: sort each user's times, split on gap, number sessions 1..n
      val expect = rows.groupBy(_._1).flatMap { case (u, es) =>
        val ts = es.map(_._2).sorted
        val sessions = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head > gap) List(t) :: acc
          else (t :: acc.head) :: acc.tail
        }.reverse.map(_.reverse)
        sessions.zipWithIndex.map { case (s, i) =>
          (u, (i + 1).toLong, s.min, s.max, s.length.toLong)
        }
      }.toSet
      got == expect
    })

  check("golden-record merge is permutation-invariant over generated clusters")(
    Prop.forAll(
      Gen.zip(
        Gen.nonEmptyListOf(Gen.zip(
          Gen.chooseNum(0, 3),                        // cluster
          Gen.chooseNum(-500, 500),                   // balance (ties likely)
          Gen.oneOf("AUTOMOBILE", "BUILDING", "MACHINERY"))),
        Gen.long)) { case (rows0, seed) =>
      // distinct keys per member (survivorship presumes resolved entities);
      // balances and segments collide freely to exercise every tie-break
      val members = rows0.zipWithIndex.map { case ((cl, bal, seg), i) =>
        (cl.toLong * 100, 1000L + i, s"Customer#${1000 + i}", i % 7, bal.toDouble, seg)
      }
      val perm = new scala.util.Random(seed).shuffle(members)
      def runOn(rs: Seq[(Long, Long, String, Int, Double, String)]) =
        graft.operators.Linkage.goldenMerge(
          rs.toDF("cluster_id", "c_custkey", "c_name", "c_nationkey",
            "c_acctbal", "c_mktsegment"))
          .collect().map(_.toString).toSeq
      runOn(members) == runOn(perm)
    })

  check("int8 quantization: codes bounded, max lane saturates, reconstruction within half a step")(
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1e3f, 1e3f))) { xs =>
      val row = llm.Similarity.quantizeInt8(Seq(xs.toArray).toDF("v"), col("v"))
        .select(col("scale"), col("q"), col("v")).head()
      val scale = row.getDouble(0)
      val q = row.getSeq[Long](1)
      val v = row.getSeq[Float](2)
      if (v.forall(_ == 0.0f)) scale == 0.0 && q.forall(_ == 0L)
      else {
        val maxAbsQ = q.map(math.abs).max
        q.forall(c => c >= -127L && c <= 127L) &&
          maxAbsQ == 127L &&
          v.indices.forall { i =>
            math.abs(v(i).toDouble - q(i).toDouble / scale) <= 0.5 / scale * (1 + 1e-12)
          }
      }
    })
}
