package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{DedupOps, SortOps}
import graft.sources.TextIntIO

/** Property-based suite promised in SURVEY §5.2: randomized inputs against
  * JVM-side oracles (`xs.sorted` etc.), including values ≥ 999,999 — the
  * reference's sentinel range (`NodeHandler.java:223,236-238`) where its
  * merge corrupts output; ours must not.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(label: String, samples: Int, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(samples)
        .withMaxSize(60),
      p)
    assert(res.passed, s"$label: ${res.status}")
  }

  // Includes the reference's sentinel range and both int extremes.
  private val genInts: Gen[List[Int]] = Gen.listOf(Gen.frequency(
    6 -> Gen.chooseNum(Int.MinValue, Int.MaxValue),
    2 -> Gen.chooseNum(999998, 1000001),
    1 -> Gen.const(999999999),
    1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0)))

  test("property: engine sort == JVM sort for arbitrary ints (sentinel regression)") {
    check("sort", 15, Prop.forAll(genInts) { xs =>
      val got = SortOps.totalSort(xs.toDF("value"), Seq(col("value"))).as[Int].collect()
      got.toList == xs.sorted
    })
  }

  test("property: merge of any k-way split == sort of the whole") {
    val gen = for { xs <- genInts; k <- Gen.chooseNum(1, 5) } yield (xs, k)
    check("merge", 15, Prop.forAll(gen) { case (xs, k) =>
      val runs = (0 until k).map(i => xs.zipWithIndex.collect {
        case (v, idx) if idx % k == i => v
      }.toDF("value"))
      val merged = SortOps.mergeRuns(runs, Seq(col("value"))).as[Int].collect()
      merged.toList == xs.sorted
    })
  }

  test("property: topK == sorted prefix") {
    val gen = for { xs <- genInts; k <- Gen.chooseNum(0, 20) } yield (xs, k)
    check("topk", 15, Prop.forAll(gen) { case (xs, k) =>
      val got = SortOps.topK(xs.toDF("value"), k, Seq(col("value"))).as[Int].collect()
      got.toList == xs.sorted.take(k)
    })
  }

  test("property: text-int round trip preserves the multiset, sorted") {
    check("textint", 10, Prop.forAll(genInts) { xs =>
      val tmp = Spill.newDir("graft_prop")
      xs.toDF("value").write.format("textint").mode("overwrite").save(s"$tmp/t")
      val back = TextIntIO.sort(spark.read.format("textint").load(s"$tmp/t")).as[Int].collect()
      back.toList == xs.sorted
    })
  }

  private val genDocs: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val text = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, text).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) }))
  }

  test("property: V2 textint scan preserves the multiset for any chunkSize") {
    val gen = for {
      xs <- genInts
      cs <- Gen.chooseNum(1, 64)
      sep <- Gen.oneOf(" ", "  ", "\n", " \n ")
    } yield (xs, cs, sep)
    check("textint-v2", 15, Prop.forAll(gen) { case (xs, cs, sep) =>
      val dir = java.nio.file.Paths.get(Spill.newDir("prop_v2"))
      java.nio.file.Files.write(dir.resolve("f.txt"),
        xs.mkString(sep).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val got = spark.read.format("textint").option("chunkSize", cs.toLong)
        .load(dir.toString).as[Int].collect().toList
      got.sorted == xs.sorted
    })
  }

  // Signed, zero-padded, overflowing and malformed ASCII tokens: the V2
  // reader keeps exactly the tokens Integer.parseInt accepts, in file order.
  private val genToken: Gen[String] = {
    val sign = Gen.oneOf("", "+", "-")
    Gen.frequency(
      4 -> Gen.chooseNum(Int.MinValue, Int.MaxValue).map(_.toString),
      2 -> (for { s <- sign; z <- Gen.chooseNum(0, 12); v <- Gen.chooseNum(0, Int.MaxValue) }
        yield s + "0" * z + v),
      1 -> (for { s <- sign; v <- Gen.chooseNum(2147483647L, Long.MaxValue) }
        yield s + v + (if (v % 3 == 0) "9" * 10 else "")),
      1 -> Gen.oneOf("", "-", "+", "+-1", "--2", "1x", "0x10", "1e3", "1.0", "1_000"))
  }

  test("property: V2 textint scan == parseInt-filtered tokens, in order") {
    val gen = for {
      toks <- Gen.listOf(genToken)
      cs <- Gen.chooseNum(1, 64)
      sep <- Gen.oneOf(" ", "\t", "\r\n", "  \n")
    } yield (toks, cs, sep)
    check("textint-v2-tokens", 15, Prop.forAll(gen) { case (toks, cs, sep) =>
      val dir = java.nio.file.Paths.get(Spill.newDir("prop_v2_tok"))
      java.nio.file.Files.write(dir.resolve("f.txt"),
        toks.mkString(sep).getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val got = spark.read.format("textint").option("chunkSize", cs.toLong)
        .load(dir.toString).as[Int].collect().toList
      got == toks.flatMap(t => scala.util.Try(Integer.parseInt(t)).toOption)
    })
  }

  test("property: packSequences conserves docs/tokens; bins are contiguous") {
    val gen = for {
      docRows <- genDocs
      budget <- Gen.chooseNum(1L, 12L)
      shard <- Gen.chooseNum(1L, 8L)
    } yield (docRows, budget, shard)
    check("pack", 10, Prop.forAll(gen) { case (docRows, budget, shard) =>
      val d = docRows.toDF("doc_id", "text")
      val bins = graft.operators.TextOps.packSequences(d, budget, shard)
        .as[(Long, Long, Long, Long, Long)].collect().toList
      val totTokens = docRows.map(_._2.split("\\s+").count(_.nonEmpty)).sum
      bins.map(_._2).sum == docRows.length && // every doc in exactly one bin
        bins.map(_._3).sum == totTokens && // every token counted once
        bins.map(_._1) == bins.map(_._1).sorted && // bins ordered
        // doc-id ranges never interleave across bins (contiguity)
        bins.sliding(2).forall {
          case List(a, b) => a._5 < b._4
          case _ => true
        }
    })
  }

  test("property: Bloom filter never yields a false negative") {
    val genKeys = for {
      build <- Gen.listOf(Gen.chooseNum(0L, 5000L))
      probe <- Gen.listOf(Gen.chooseNum(0L, 5000L))
    } yield (build, probe)
    check("bloom", 10, Prop.forAll(genKeys) { case (build, probe) =>
      (build.isEmpty || probe.isEmpty) || {
        val bits = graft.operators.SketchOps.bloomBits(build.toDF("k"), col("k"))
        val hits = graft.operators.SketchOps.bloomHitKeys(probe.toDF("k"), col("k"), bits)
          .as[Long].collect().toSet
        build.toSet.intersect(probe.toSet).forall(hits.contains)
      }
    })
  }

  test("property: Morton interleave is a bijection on 16-bit pairs") {
    val gen = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)))
    check("zorder", 10, Prop.forAll(gen) { pairs =>
      pairs.isEmpty || {
        val z = pairs.toDF("xb", "yb")
          .select(col("xb"), col("yb"),
            graft.operators.LayoutOps.interleave16(col("xb"), col("yb")).as("z"))
          .as[(Long, Long, Long)].collect()
        // deinterleave on the JVM side recovers both coordinates
        z.forall { case (x, y, zz) =>
          val xr = (0 until 16).map(i => ((zz >> (2 * i)) & 1L) << i).sum
          val yr = (0 until 16).map(i => ((zz >> (2 * i + 1)) & 1L) << i).sum
          xr == x && yr == y
        }
      }
    })
  }

  test("property: compactionPlan — ceil-division invariants for any table") {
    val genParts: Gen[List[(String, Long)]] = Gen.listOf(for {
      p <- Gen.oneOf("a", "b", "c", "d")
      bytes <- Gen.chooseNum(0L, 100000L)
    } yield (p, bytes))
    val gen = for { rows <- genParts; tgt <- Gen.chooseNum(1L, 50000L) } yield (rows, tgt)
    check("compaction", 10, Prop.forAll(gen) { case (rows, tgt) =>
      rows.isEmpty || {
        val plan = graft.operators.LayoutOps
          .compactionPlan(rows.toDF("source", "n_chars"), "source", "n_chars", tgt)
          .as[(String, Long, Long, Long, Long)].collect()
        val byPart = rows.groupBy(_._1)
        plan.length == byPart.size && plan.forall { case (p, n, bytes, files, rpf) =>
          val (en, eb) = (byPart(p).length.toLong, byPart(p).map(_._2).sum)
          n == en && bytes == eb &&
            files == math.max(1L, (eb + tgt - 1) / tgt) && // exact ceil, 1 floor
            rpf * files >= n &&                            // every row gets a file
            (files == 1L || (files - 1) * tgt < eb)        // never over-provisions
        }
      }
    })
  }

  test("property: rollupState merge over any split == rollup of the whole") {
    val genEvents: Gen[List[(Long, String, Double)]] = Gen.listOf(for {
      id <- Gen.chooseNum(0L, 10000L)
      typ <- Gen.oneOf("click", "view", "purchase")
      v <- Gen.chooseNum(-1000.0, 1000.0)
    } yield (id, typ, v))
    def ev(rows: List[(Long, String, Double)]) =
      rows.zipWithIndex.map { case ((id, typ, v), i) =>
        (i.toLong, (1700000000000L + id * 1000) * 1000000L, id, typ, v, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val gen = for { rows <- genEvents; cut <- Gen.chooseNum(0, 100) } yield (rows, cut)
    check("ivm", 10, Prop.forAll(gen) { case (rows, cutPct) =>
      rows.isEmpty || {
        val cut = rows.length * cutPct / 100
        val full = graft.operators.EventOps.rollupState(ev(rows))
          .orderBy(col("event_type")).as[(String, Long, Long)].collect().toSeq
        val merged = graft.operators.EventOps.mergeRollupStates(
          graft.operators.EventOps.rollupState(ev(rows.take(cut))),
          graft.operators.EventOps.rollupState(ev(rows.drop(cut))))
          .as[(String, Long, Long)].collect().toSeq
        merged == full
      }
    })
  }

  test("property: exactDedup partitions the corpus and is idempotent") {
    check("dedup", 10, Prop.forAll(genDocs) { docRows =>
      val corpus = docRows.toDF("doc_id", "text")
      val once = DedupOps.exactDedup(corpus).collect()
      val total = once.map(_.getAs[Long]("n_copies")).sum
      val keepers = once.map(_.getAs[Long]("keep_id")).toSet
      val kept = corpus.filter(col("doc_id").isInCollection(keepers))
      val twice = DedupOps.exactDedup(kept).collect()
      total == docRows.length &&
        twice.length == once.length &&
        twice.forall(_.getAs[Long]("n_copies") == 1L)
    })
  }

  test("property: exactPercentiles == percentile() for arbitrary groups/values") {
    // the histogram-guided two-pass rank must be BIT-identical to Spark's
    // full-buffer aggregate on any value distribution: duplicates, negative
    // values, 1-row groups, all-equal groups, tiny nb (every order
    // statistic shares one bucket) and values spanning many magnitudes
    val genRows: Gen[List[(String, Double)]] = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.frequency(
        4 -> Gen.chooseNum(-1000.0, 1000.0),
        2 -> Gen.chooseNum(-5, 5).map(_.toDouble), // forces duplicates
        1 -> Gen.oneOf(-1e12, 1e12, 0.0))
    } yield (g, v))
    val gen = for {
      rows <- genRows
      nb <- Gen.oneOf(1, 2, 7, 64)
      q <- Gen.chooseNum(0.0, 1.0)
    } yield (rows, nb, q)
    check("exactPercentiles", 15, Prop.forAll(gen) { case (rows, nb, q) =>
      val df = rows.toDF("g", "v")
      val got = graft.operators.StatsOps
        .exactPercentiles(df, "v", Seq("g"), Seq(q, 0.5), nb)
        .filter(col("qi") === 0)
        .select(col("g"), col("exact")).as[(String, Double)].collect().toMap
      val want = df.groupBy(col("g"))
        .agg(expr(s"percentile(v, ${q}D)").as("p"))
        .as[(String, Double)].collect().toMap
      got.keySet == want.keySet && want.forall { case (g, x) =>
        java.lang.Double.compare(got(g), x) == 0
      }
    })
  }

  test("floorDivSql equals Math.floorDiv wherever |quotient| < 2^49") {
    // numerators range across the 2^53 double-exactness cliff; quotients
    // stay inside the documented 2^49 exactness domain
    val gen = for {
      b <- Gen.oneOf(Gen.chooseNum(1L, 8192L), Gen.chooseNum(-8192L, -1L))
      q <- Gen.chooseNum(-(1L << 48), 1L << 48) // |q*b| <= 2^61: no overflow
      r <- Gen.chooseNum(0L, math.abs(b) - 1)
    } yield (q * b + (if (b > 0) r else -r), b) // a with known floor quotient
    check("floorDivSql", 30, Prop.forAll(gen) { case (a, b) =>
      val got = spark.sql(
        s"SELECT ${graft.operators.TextOps.floorDivSql(a.toString, b.toString)}")
        .collect()(0).getLong(0)
      got == Math.floorDiv(a, b)
    })
  }
}
