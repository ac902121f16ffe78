package graft

import org.apache.spark.sql.functions._

import graft.functions.expressions.MisraGries

/** The Misra-Gries heavy-hitters aggregate: retention guarantee across
  * partial aggregation + merge, serialization, and the sketch→exact
  * verify pipeline equalling the full groupBy.
  */
class HeavyHittersSpec extends SparkTestBase {

  import spark.implicits._

  // 5 planted heavies (2% each = 2000 of 100k) in a long uniform tail
  // of 10k distinct noise items (~9 occurrences each)
  private lazy val stream: Seq[String] = {
    val rnd = new scala.util.Random(7)
    val heavies = (0 until 5).flatMap(h => Seq.fill(2000)(s"heavy_$h"))
    val noise = Seq.fill(90000)(s"noise_${rnd.nextInt(10000)}")
    rnd.shuffle(heavies ++ noise)
  }

  test("every item above n/(capacity+1) survives partial+merge aggregation") {
    // capacity 99 → guarantee line at ~1%; planted heavies sit at 2%
    val df = stream.toDF("item").repartition(16) // force many partial buffers
    val cands = df.agg(MisraGries.candidates(col("item"), 99).as("c"))
      .select(explode(col("c")).as("item"))
      .collect().map(_.getString(0)).toSet
    (0 until 5).foreach { h =>
      assert(cands.contains(s"heavy_$h"), s"lost heavy_$h from $cands")
    }
    assert(cands.size <= 99)
  }

  test("sketch candidates + exact recount equals the full groupBy answer") {
    val df = stream.toDF("item").repartition(8).persist()
    val n = stream.size.toLong
    val threshold = 0.015 // above the 1/(99+1) guarantee line
    val exact = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= n * threshold)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val cand = df.agg(MisraGries.candidates(col("item"), 99).as("c"))
      .select(explode(col("c")).as("item"))
    val verified = df.join(broadcast(cand), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= n * threshold)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(verified == exact)
    df.unpersist()
  }

  test("summary serialization round-trips items and bounds") {
    val s = new MisraGries.Summary(8)
    Seq("a", "a", "a", "b", "b", "c").foreach(s.add(_))
    val back = MisraGries.Summary.fromBytes(s.toBytes, 8)
    assert(back.items.toSet == s.items.toSet)
    assert(s.items.forall(i => back.lowerBound(i) == s.lowerBound(i)))
  }

  test("merge cuts back to capacity and keeps the heaviest") {
    val a = new MisraGries.Summary(3)
    val b = new MisraGries.Summary(3)
    Seq.fill(50)("x").foreach(a.add(_)); Seq("p", "q").foreach(a.add(_))
    Seq.fill(40)("x").foreach(b.add(_)); Seq("r", "s").foreach(b.add(_))
    a.mergeWith(b)
    assert(a.items.size <= 3)
    assert(a.items.contains("x"))
    assert(a.lowerBound("x") >= 88) // 90 total minus the merge cut
  }

  test("decrement path: more distinct items than capacity stays bounded") {
    val s = new MisraGries.Summary(4)
    (0 until 1000).foreach(i => s.add(s"i${i % 100}"))
    assert(s.items.size <= 4)
  }

  test("property: retention guarantee holds on random streams and merge trees") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random stream + random capacity + random merge fan-in: every
    // item with freq > n/(capacity+1) must survive; size stays bounded
    val gen = for {
      cap <- Gen.choose(2, 40)
      nParts <- Gen.choose(1, 6)
      items <- Gen.listOfN(2000, Gen.frequency(
        (6, Gen.choose(0, 2).map(h => s"hot_$h")),   // concentrated mass
        (4, Gen.choose(0, 500).map(c => s"cold_$c")) // long tail
      ))
    } yield (cap, nParts, items)
    val prop = Prop.forAll(gen) { case (cap, nParts, items) =>
      val parts = items.grouped(math.max(1, items.size / nParts)).toSeq
      val merged = parts.map { p =>
        val s = new MisraGries.Summary(cap)
        p.foreach(s.add(_))
        s
      }.reduce { (a, b) => a.mergeWith(b); a }
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
      val line = items.size.toDouble / (cap + 1)
      val kept = merged.items.toSet
      exact.forall { case (item, c) => c <= line || kept.contains(item) } &&
        merged.items.size <= cap
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, r.status.toString)
  }

  test("SQL surface: graft_heavy_hitters over a table") {
    stream.toDF("item").createOrReplaceTempView("hh_items")
    val cands = spark.sql(
      "SELECT graft_heavy_hitters(item, 99) AS c FROM hh_items")
      .select(explode(col("c"))).collect().map(_.getString(0)).toSet
    assert((0 until 5).forall(h => cands.contains(s"heavy_$h")))
  }
}
