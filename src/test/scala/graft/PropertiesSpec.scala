package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

import graft.functions.{Bloom, Hashing, ZOrderValue}

/** Property tests driven by scalacheck generators (drawn manually — no
  * scalatestplus bridge offline): the portable-hash contract and the
  * Morton bijection hold for arbitrary inputs, not just fixtures. */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default,
      Seed(seed + i)))

  test("md5Long == builtin chain for arbitrary unicode strings") {
    val g = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.choose(0x20.toChar, 0x2FFF.toChar)).map(_.mkString),
      Gen.listOf(Gen.oneOf[String]("a", " ", "\t", "\n", "ß", "中",
        "🙂")) // surrogate-pair emoji as a string
        .map(_.mkString))
    val strs = (sample(g, 300, 7L) :+ "").distinct
    val df = strs.toDF("s").select(
      Hashing.md5Long($"s").as("native"),
      Hashing.md5LongBuiltin($"s").as("builtin"))
    df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("Morton interleave is a bijection on [0,2^16)^2") {
    def deinterleave(z: Long): (Long, Long) = {
      var (x, y) = (0L, 0L)
      for (i <- 0 until 16) {
        x |= ((z >>> (2 * i)) & 1L) << i
        y |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    val g = Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L))
    val pts = sample(g, 500, 13L)
    pts.foreach { case (x, y) =>
      assert(deinterleave(ZOrderValue.interleave(x, y, 16)) === ((x, y)))
    }
    // distinct points → distinct z (injectivity on the sample)
    assert(pts.distinct.map { case (x, y) =>
      ZOrderValue.interleave(x, y, 16) }.distinct.size === pts.distinct.size)
  }

  test("bloom: arbitrary inserted strings are always contained") {
    val g = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val keys = sample(g, 400, 23L).distinct
    val numBits = 1 << 14
    val k = 5
    val bits = new Array[Long](numBits / 64)
    def hashOf(s: String): Long = {
      // mirror Hashing.md5Long on the driver
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    keys.foreach { s =>
      Bloom.bitPositions(hashOf(s), numBits, k)
        .foreach(b => bits(b >>> 6) |= 1L << (b & 63))
    }
    keys.foreach { s =>
      assert(Bloom.bitPositions(hashOf(s), numBits, k)
        .forall(b => (bits(b >>> 6) & (1L << (b & 63))) != 0L), s)
    }
  }

  test("skyline window formulation == brute-force dominance on " +
    "arbitrary points (dense ties)") {
    import org.apache.spark.sql.expressions.Window
    // small domains force heavy price AND size ties — the edge cases
    // of the q115 formulation
    val g = Gen.zip(Gen.choose(0, 15), Gen.choose(0, 15))
    val pts = sample(g, 300, 31L)
    val df = pts.toDF("price", "size")
    val best = df.groupBy(col("price"))
      .agg(max(col("size")).cast("long").as("size"))
    val w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    val frontier = best.withColumn("mx", max(col("size")).over(w))
      .filter(col("mx").isNull || col("size") > col("mx"))
      .select(col("price"), col("size"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // brute force over DISTINCT points: kept ⟺ no other point weakly
    // dominates it (≤ price, ≥ size, strict somewhere)
    val distinct = pts.map { case (p, sz) => (p, sz.toLong) }.distinct
    val expected = distinct.filter { case (p, sz) =>
      !distinct.exists { case (op, osz) =>
        op <= p && osz >= sz && (op < p || osz > sz) }
    }.toSet
    assert(frontier === expected)
  }

  test("interval merge window formulation == sequential sweep on " +
    "arbitrary interval sets (touching + nested + duplicate starts)") {
    import org.apache.spark.sql.expressions.Window
    val horizon = 10L
    val g = Gen.zip(Gen.choose(1, 5), Gen.choose(0L, 200L))
    val ivs = sample(g, 400, 37L)
    val df = ivs.toDF("user_id", "st")
      .withColumn("en", col("st") + lit(horizon))
    val w = Window.partitionBy("user_id").orderBy("st")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val merged = df
      .withColumn("pme", max(col("en")).over(wPrev))
      .withColumn("ni", when(col("pme").isNull ||
        col("st") > col("pme"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("s"), max(col("en")).as("e"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toList).toMap
    // sequential sweep reference, per user
    val expected = ivs.groupBy(_._1).view.mapValues { xs =>
      val sorted = xs.map(_._2).sorted
      val out = scala.collection.mutable.ListBuffer
        .empty[(Long, Long, Long)]
      for (st <- sorted) {
        val en = st + horizon
        out.lastOption match {
          case Some((s, e, n)) if st <= e =>
            out(out.length - 1) = (s, math.max(e, en), n + 1)
          case _ => out += ((st, en, 1L))
        }
      }
      out.toList
    }.toMap
    assert(merged === expected)
  }

  test("sorted_intersect_count == Set.intersect for arbitrary long " +
    "sets (dense value range forces real collisions)") {
    val gSet = Gen.listOf(Gen.choose(-50L, 50L))
    val pairs = sample(Gen.zip(gSet, gSet), 300, 11L) :+
      (Nil, Nil) :+ (List(1L), Nil) // empty-side edges
    val rows = pairs.map { case (a, b) =>
      (a.distinct.sorted, b.distinct.sorted,
        a.toSet.intersect(b.toSet).size.toLong) }
    val df = rows.toDF("a", "b", "want").select(
      org.apache.spark.sql.GraftSql.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.GraftSql.expression(col("a")),
          org.apache.spark.sql.GraftSql.expression(col("b"))))
        .as("got"),
      col("want"))
    df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1), r))
  }

  test("damerau_levenshtein == independent Lowrance-Wagner DP on " +
    "arbitrary small-alphabet strings (adjacent transpositions over " +
    "edited prefixes included)") {
    // true (unrestricted) DL reference — alphabet-indexed DP, written
    // from the recurrence, sharing nothing with the expression kernel
    def dlRef(a: String, b: String): Int = {
      val maxd = a.length + b.length
      val da = scala.collection.mutable.Map.empty[Char, Int]
        .withDefaultValue(0)
      val d = Array.ofDim[Int](a.length + 2, b.length + 2)
      d(0)(0) = maxd
      for (i <- 0 to a.length) { d(i + 1)(0) = maxd; d(i + 1)(1) = i }
      for (j <- 0 to b.length) { d(0)(j + 1) = maxd; d(1)(j + 1) = j }
      for (i <- 1 to a.length) {
        var db = 0
        for (j <- 1 to b.length) {
          val k = da(b(j - 1)); val l = db
          val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
          d(i + 1)(j + 1) = Seq(
            d(i)(j) + cost,
            d(i + 1)(j) + 1,
            d(i)(j + 1) + 1,
            d(k)(l) + (i - 1 - k) + 1 + (j - 1 - l)).min
        }
        da(a(i - 1)) = i
      }
      d(a.length + 1)(b.length + 1)
    }
    // 4-letter alphabet, length <= 12: transposition-rich, O(nm) cheap
    val gStr = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val pairs = sample(Gen.zip(gStr, gStr), 400, 23L) :+
      ("", "") :+ ("abcd", "") :+ ("ca", "abc")
    graft.functions.GraftFunctions.register(spark)
    val df = pairs.map { case (a, b) => (a, b, dlRef(a, b)) }
      .toDF("a", "b", "want")
      .selectExpr("graft_damerau(a, b) AS got", "want")
    df.collect().foreach(r => assert(r.getInt(0) === r.getInt(1), r))
  }

  test("tvDrift boundary identities for arbitrary category multisets: " +
    "self-reference scores exactly 0, a disjoint reference exactly 1") {
    import java.sql.Timestamp
    val g = Gen.listOfN(120, Gen.oneOf("a", "b", "c", "d", "e"))
    for (seed <- Seq(11L, 22L)) {
      val cats = sample(g, 1, seed).head
      val ref: Map[String, Long] = cats.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val t0 = Timestamp.valueOf("2024-06-01 00:00:00")
      val df = cats.map(c => (t0, c)).toDF("ts", "cat")
      // window of the data scored against its OWN histogram: every
      // cross-multiplied gap is cnt·nRef − ref·nWin = 0 exactly
      val self = graft.streaming.Streaming.tvDrift(df, "ts", "cat",
        "0 seconds", "1 hour", ref).collect().head
      assert(self.getAs[Long]("tv_num") === 0L)
      assert(self.getAs[Double]("tv_dist") === 0.0)
      // disjoint reference: all window mass in OTHER, all reference
      // mass unmatched — TV distance is exactly 1
      val disjoint: Map[String, Long] = Map("zz1" -> 7L, "zz2" -> 3L)
      val far = graft.streaming.Streaming.tvDrift(df, "ts", "cat",
        "0 seconds", "1 hour", disjoint).collect().head
      assert(far.getAs[Double]("tv_dist") === 1.0)
    }
  }

  test("discreteMedian == sorted lower-middle element on arbitrary " +
    "tied long multisets (incl. negatives) and on doubles") {
    import graft.operators.Stats
    val g = Gen.choose(-15L, 15L) // heavy ties by construction
    for (seed <- Seq(11L, 22L, 33L); n <- Seq(1, 2, 7, 101)) {
      val xs = sample(g, n, seed + n)
      val got = Stats.discreteMedian(xs.toDF("v"), "v").collect().head
      val expected = xs.sorted.apply((xs.length + 1) / 2 - 1)
      assert(got.getLong(0) === xs.length.toLong)
      assert(got.getLong(1) === expected, s"n=$n seed=$seed")
    }
    // doubles (the q262 slope shape): same element-pick contract
    val ds = Seq(2.5, -1.0, 2.5, 0.0, 7.25)
    val gd = Stats.discreteMedian(ds.toDF("v"), "v").collect().head
    assert(gd.getDouble(1) === 2.5)
    // empty input: n=0, null median — never a crash
    val ge = Stats.discreteMedian(
      spark.emptyDataset[Long](org.apache.spark.sql.Encoders.scalaLong)
        .toDF("v"), "v").collect().head
    assert(ge.getLong(0) === 0L && ge.isNullAt(1))
  }

  test("ksTwoSample / mannWhitneyU == sequential references on " +
    "arbitrary tied class-labeled multisets; U_A + U_B == nA*nB") {
    import graft.operators.Stats
    // heavy ties on purpose: values from a tiny domain, skewed labels
    val g = Gen.zip(Gen.choose(-20L, 20L), Gen.frequency(
      (1, Gen.const(1L)), (2, Gen.const(0L))))
    for (seed <- Seq(101L, 202L, 303L)) {
      val rows = sample(g, 250, seed)
      val a = rows.filter(_._2 == 1L).map(_._1)
      val b = rows.filter(_._2 == 0L).map(_._1)
      if (a.nonEmpty && b.nonEmpty) {
        val df = rows.toDF("v", "y").repartition(7)
        val ks = Stats.ksTwoSample(df, col("v"), col("y")).collect().head
        val gaps = rows.map(_._1).distinct.sorted.map { t =>
          (math.abs(a.count(_ <= t).toLong * b.size -
            b.count(_ <= t).toLong * a.size), t)
        }
        val dNum = gaps.map(_._1).max
        assert(ks.getAs[Long]("v_at_max") ===
          gaps.filter(_._1 == dNum).map(_._2).min)
        assert(math.abs(ks.getAs[Double]("ks_d") -
          dNum.toDouble / (a.size.toDouble * b.size.toDouble)) < 1e-12)

        val mw = Stats.mannWhitneyU(df, col("v"), col("y"))
          .collect().head
        val u2a = a.map(x => 2L * b.count(x > _) + b.count(x == _)).sum
        assert(math.abs(mw.getAs[Double]("cles") -
          u2a.toDouble / (2.0 * a.size * b.size)) < 1e-12)
        // complement identity via the swapped labels
        val sw = rows.map { case (v, y) => (v, 1L - y) }
          .toDF("v", "y").repartition(5)
        val mwB = Stats.mannWhitneyU(sw, col("v"), col("y"))
          .collect().head
        assert(math.abs(mw.getAs[Double]("cles") +
          mwB.getAs[Double]("cles") - 1.0) < 1e-12)
      }
    }
  }

  test("PqAdc == try_element_at chain for arbitrary luts/codes " +
    "(null/empty arrays, null slots, null/out-of-range codes, m=1..8)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.Similarity
    // the kernel under q293/q295 (and the ANN scale curves recorded in
    // SURVEY.md §8) gets the same arbitrary-input hardening as the
    // other native expressions: its specification is
    // the try_element_at chain (null on any null lut/code/slot and on
    // any index past the array — ANSI element_at would throw there)
    val gD = Gen.frequency(
      8 -> Gen.choose(-1e6, 1e6),
      2 -> Gen.oneOf(0.0, -0.0, 1e300, -1e-300, math.Pi))
    val gLut: Gen[Seq[java.lang.Double]] = for {
      n <- Gen.choose(0, 6) // 0 = empty array
      vals <- Gen.listOfN(n, Gen.frequency(
        9 -> gD.map(java.lang.Double.valueOf),
        1 -> Gen.const(null: java.lang.Double)))
    } yield vals
    for (m <- 1 to 8) {
      val gRow: Gen[Row] = for {
        luts <- Gen.listOfN(m, Gen.frequency(
          8 -> gLut.map(l => l: Any), 1 -> Gen.const(null: Any)))
        // 0..8 spans in-range AND past-the-end for every lut length ≤ 6
        codes <- Gen.listOfN(m, Gen.frequency(
          8 -> Gen.choose(0, 8).map(Int.box(_): Any),
          1 -> Gen.const(null: Any)))
      } yield Row.fromSeq(luts ++ codes)
      val rows = sample(gRow, 60, 100L + m)
      val schema = StructType(
        (0 until m).map(j => StructField(s"lut$j",
          ArrayType(DoubleType, containsNull = true))) ++
        (0 until m).map(j => StructField(s"code$j", IntegerType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      val luts = (0 until m).map(j => col(s"lut$j"))
      val codes = (0 until m).map(j => col(s"code$j"))
      val chain = luts.zip(codes)
        .map { case (l, c) => try_element_at(l, c + lit(1)) }
        .reduce(_ + _)
      val cmp = df.select(Similarity.adcNative(luts, codes).as("n"),
        chain.as("c")).collect()
      assert(cmp.nonEmpty)
      cmp.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1))
          assert(r.isNullAt(0) && r.isNullAt(1), s"m=$m: $r")
        else assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)), s"m=$m: $r")
      }
    }
    // negative codes: the native kernel nulls them — STRICTER than
    // element_at's from-the-end indexing (codes are non-negative by
    // construction via cellOf; nulling, never wrapping, is the safe
    // divergence and is pinned here so it stays deliberate)
    val neg = Seq((Seq(1.0, 2.0), -1)).toDF("lut", "code")
      .select(Similarity.adcNative(Seq($"lut"), Seq($"code")))
      .collect().head
    assert(neg.isNullAt(0))
  }
}
