package graft

import graft.functions.{Keys, Search}
import graft.maintain.Compact
import graft.table.DataFile
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY.md §5.2 item 4) via raw ScalaCheck
  * (driven through Test.check — the scalatestplus bridge is not in the
  * offline cache). Pure driver-side properties: bin packing, binary
  * search, curve-key bijectivity, first-wins dedup vs an in-memory
  * reference model.
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop, cases: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, s"$name: $res")
  }

  private def file(path: String, bytes: Long): DataFile =
    DataFile(path, bytes, rows = 1L, minDocId = path, maxDocId = path,
      minNtok = 1, maxNtok = 1, sumNtok = 1L, minSource = "a", maxSource = "a")

  test("bin packing: bins never exceed capacity, cover candidates exactly once, deterministic") {
    val gen = for {
      target <- Gen.choose(100L, 10000L)
      sizes <- Gen.listOfN(60, Gen.choose(1L, 12000L))
    } yield (target, sizes)
    check("planBins", Prop.forAll(gen) { case (target, sizes) =>
      val files = sizes.zipWithIndex.map { case (b, i) => file(f"f$i%03d", b) }
      val bins = Compact.planBinsStreaming(files.iterator, target)._1
      val threshold = (target * 0.75).toLong
      val packed = bins.flatten.map(_.path)
      val candidates = files.filter(_.bytes < threshold)
      // Each bin fits unless a single candidate alone exceeds target
      // (cannot happen: candidates are < 0.75*target by construction).
      bins.forall(_.map(_.bytes).sum <= target) &&
        bins.forall(_.size >= 2) &&
        packed.distinct.size == packed.size &&
        bins.flatten.forall(_.bytes < threshold) &&
        // Existence: whenever the two smallest candidates fit together,
        // FFD must pack SOMETHING (a regression that silently drops all
        // work would pass the subset checks above).
        (candidates.size < 2 ||
          candidates.map(_.bytes).sorted.take(2).sum > target ||
          bins.nonEmpty) &&
        Compact.planBinsStreaming(files.iterator, target)._1 == bins // deterministic
    })
  }

  test("carry set: mutually disjoint, greedily maximal, deterministic") {
    import graft.maintain.Cluster
    val genFile = for {
      a <- Gen.choose(0, 50)
      w <- Gen.choose(0, 10)
      bytes <- Gen.choose(1L, 2000L)
      id <- Gen.choose(0, 100000)
    } yield DataFile(s"f$id-$a-$w", bytes, 1L,
      f"d$a%03d", f"d${a + w}%03d", 1, 1, 1L, "s", "s")
    val gen = for {
      n <- Gen.choose(0, 40)
      fs <- Gen.listOfN(n, genFile)
      floor <- Gen.choose(1L, 1500L)
    } yield (fs.distinctBy(_.path), floor)
    check("carrySet", Prop.forAll(gen) { case (files, floor) =>
      val carried = Cluster.carrySet(files, floor)
      val ord = Search.utf8Ordering
      def overlaps(a: DataFile, b: DataFile): Boolean =
        ord.compare(a.minDocId, b.maxDocId) <= 0 &&
          ord.compare(b.minDocId, a.maxDocId) <= 0
      val pairwiseDisjoint = carried.combinations(2).forall {
        case Seq(a, b) => !overlaps(a, b)
      }
      val allBigEnough = carried.forall(_.bytes >= floor)
      // Greedy maximality: every eligible file NOT carried overlaps a
      // carried one (nothing disjoint-and-big-enough is left behind).
      val excluded = files.filterNot(f => carried.exists(_.path == f.path))
      val maximal = excluded.forall(f =>
        f.bytes < floor || carried.exists(c => overlaps(f, c)))
      val deterministic =
        Cluster.carrySet(scala.util.Random.shuffle(files), floor)
          .map(_.path).toSet == carried.map(_.path).toSet
      pairwiseDisjoint && allBigEnough && maximal && deterministic
    })
  }

  test("commit cuts cover every row with sizes differing by at most one") {
    val gen = for {
      rows <- Gen.choose(0L, 100000L)
      commits <- Gen.choose(1, 64)
    } yield (rows, commits)
    check("commitCuts", Prop.forAll(gen) { case (rows, commits) =>
      val cuts = Main.commitCuts(rows, commits)
      val sizes = cuts.sliding(2).map(p => p(1) - p(0)).toSeq
      cuts.head == 0 && cuts.last == rows &&
        sizes.forall(_ >= 0) && sizes.sum == rows &&
        (sizes.max - sizes.min) <= 1
    })
  }

  test("upperBound == #(bounds <= key) for longs and UTF8 strings") {
    val genL = for {
      bounds <- Gen.listOf(Gen.choose(-1000L, 1000L)).map(_.distinct.sorted)
      key <- Gen.choose(-1100L, 1100L)
    } yield (bounds.toArray, key)
    check("upperBoundLong", Prop.forAll(genL) { case (bounds, key) =>
      Search.upperBoundLong(bounds, key) == bounds.count(_ <= key)
    })
    val genS = for {
      bounds <- Gen.listOf(Gen.alphaNumStr.map(_.take(6)))
        .map(_.distinct.sorted(Search.utf8Ordering))
      key <- Gen.alphaNumStr.map(_.take(6))
    } yield (bounds.toArray, key)
    check("upperBoundUtf8", Prop.forAll(genS) { case (bounds, key) =>
      import org.apache.spark.unsafe.types.UTF8String
      Search.upperBoundUtf8(bounds.map(UTF8String.fromString),
        UTF8String.fromString(key)) ==
        bounds.count(b => Search.utf8Ordering.lteq(b, key))
    })
  }

  test("hilbert index round-trips through hilbertCoords (bijection) for random coords") {
    val bits = 6
    val gen = Gen.listOfN(3, Gen.choose(0L, (1L << bits) - 1)).map(_.toArray)
    check("hilbert", Prop.forAll(gen) { dims =>
      val idx = Keys.hilbertIndex(dims, bits)
      idx >= 0 && idx < (1L << (3 * bits)) &&
        Keys.hilbertCoords(idx, 3, bits).toSeq == dims.toSeq
    })
  }

  test("zInterleave is injective and order-preserving per dimension") {
    val bits = 6
    val gen = for {
      a <- Gen.listOfN(3, Gen.choose(0L, (1L << bits) - 1)).map(_.toArray)
      b <- Gen.listOfN(3, Gen.choose(0L, (1L << bits) - 1)).map(_.toArray)
    } yield (a, b)
    check("zInterleave", Prop.forAll(gen) { case (a, b) =>
      val (za, zb) = (Keys.zInterleave(a, bits), Keys.zInterleave(b, bits))
      // Injective: equal keys iff equal coords.
      ((za == zb) == a.sameElements(b)) &&
        // Monotone in each dim with the others held fixed.
        (0 until 3).forall { d =>
          val hi = a.clone(); hi(d) = math.min(a(d) + 1, (1L << bits) - 1)
          Keys.zInterleave(hi, bits) >= za
        }
    })
  }

  test("WordGrams native kernel == HOF formulation (sliding shingles + tumbling chunks)") {
    import org.apache.spark.sql.functions._
    val spark = SparkSpec.session
    import spark.implicits._
    val genWords = Gen.listOf(Gen.oneOf(
      Gen.alphaLowerStr.map(_.take(8)), Gen.const(""), Gen.numStr.map(_.take(4))))
    check("wordGrams", Prop.forAll(genWords) { ws =>
      val df = Seq(Tuple1(ws)).toDF("w")
      val slidingHof = when(size($"w") < 3, array(array_join($"w", " ")))
        .otherwise(transform(sequence(lit(0), size($"w") - 3), i =>
          concat_ws(" ",
            element_at($"w", i + 1), element_at($"w", i + 2), element_at($"w", i + 3))))
      val tumblingHof = transform(
        sequence(lit(0), expr("(size(w) - 1) div 10")),
        i => array_join(slice($"w", i * 10 + 1, lit(10)), " "))
      val row = df.select(
        graft.functions.TextGrams.sliding($"w", 3).as("ns"),
        slidingHof.as("hs"),
        graft.functions.TextGrams.tumbling($"w", 10).as("nt"),
        when(size($"w") === 0, array().cast("array<string>"))
          .otherwise(tumblingHof).as("ht")
      ).as[(Seq[String], Seq[String], Seq[String], Seq[String])].head()
      row._1 == row._2 && row._3 == row._4
    }, cases = 60)
  }

  test("QuantizeVec/QDotVec native kernels == HOF formulations on random float vectors") {
    import org.apache.spark.sql.functions._
    val spark = SparkSpec.session
    import spark.implicits._
    val genVecs = for {
      n <- Gen.choose(0, 16)
      a <- Gen.listOfN(n, Gen.choose(-1.2f, 1.2f))
      b <- Gen.listOfN(n, Gen.choose(-1.2f, 1.2f))
    } yield (a, b)
    check("vecKernels", Prop.forAll(genVecs) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val qa = graft.ops.Similarity.quantize($"a")
      val qb = graft.ops.Similarity.quantize($"b")
      def hofQuant(c: org.apache.spark.sql.Column) =
        transform(c, v => floor(v.cast("double") * 100 + 0.5d).cast("long"))
      def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        coalesce(aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v), lit(0L))
      val row = df.select(
        qa.as("nq"), hofQuant($"a").as("hq"),
        graft.ops.Similarity.qdot(qa, qb).as("nd"),
        hofDot(hofQuant($"a"), hofQuant($"b")).as("hd")
      ).as[(Seq[Long], Seq[Long], Long, Long)].head()
      row._1 == row._2 && row._3 == row._4
    }, cases = 60)
  }

  test("TokenSeq native kernel == xxhash64 HOF formulation") {
    import org.apache.spark.sql.functions._
    val spark = SparkSpec.session
    import spark.implicits._
    val gen = for {
      id <- Gen.alphaNumStr.map(s => s"doc_${s.take(12)}")
      n <- Gen.choose(0, 40)
    } yield (id, n)
    check("tokenSeq", Prop.forAll(gen) { case (id, n) =>
      val df = Seq((id, n)).toDF("doc_id", "n_tok")
      val hof = when(col("n_tok") === 0, array().cast("array<int>"))
        .otherwise(transform(sequence(lit(0), col("n_tok") - 1),
          j => pmod(xxhash64(col("doc_id"), j), lit(50257L)).cast("int")))
      val row = df.select(
        graft.functions.GenOps.tokenSeq($"doc_id", $"n_tok", 50257).as("nk"),
        hof.as("hk")
      ).as[(Seq[Int], Seq[Int])].head()
      row._1 == row._2
    }, cases = 60)
  }

  test("LineDedupDoc kernel == split/distinct/rejoin reference model") {
    val spark = SparkSpec.session
    import spark.implicits._
    // Small alphabet with newlines so duplicate and empty lines are common.
    val genText = Gen.listOf(Gen.oneOf("a", "bb", "", "a", "cé", "က0x"))
      .map(_.mkString("\n"))
    check("lineDedupDoc", Prop.forAll(genText) { text =>
      val expected = text.split("\n", -1).distinct.mkString("\n")
      val got = Seq(Tuple1(text)).toDF("t")
        .select(graft.functions.TextGrams.lineDedupDoc($"t")).as[String].head()
      got == expected
    })
  }

  test("first-wins dedup model: lowest offset wins per key, offsets unique per (topic,partition)") {
    // In-memory reference model of Ingest.dedupFirstWins for inputs
    // where same-(topic,partition,offset) records are byte-identical
    // (the payload tie-break only matters for conflicting payloads,
    // which need Spark's xxhash64 — covered by IngestSpec instead).
    case class R(topic: String, partition: Int, offset: Long, key: String)
    val genR = for {
      topic <- Gen.oneOf("t", "u")
      part <- Gen.choose(0, 2)
      offset <- Gen.choose(0L, 20L)
    } yield
      // Key derived from (topic, partition, offset): same-offset
      // duplicates are byte-identical (redelivery), many offsets share
      // a key (cross-offset key dedup still exercised).
      R(topic, part, offset, s"doc_${(offset * 7 + part * 3 + topic(0).toInt) % 9}")
    // 30 cases: each runs real Spark jobs; the discrete generator space
    // (2 topics x 3 partitions x 21 offsets) saturates quickly.
    check("dedupModel", Prop.forAll(Gen.listOfN(40, genR)) { rs =>
      // model: per (t,p,o) one survivor (identical payloads), then per
      // key the lowest (offset, topic, partition).
      val perOffset = rs.groupBy(r => (r.topic, r.partition, r.offset))
        .values.map(_.head).toSeq
      val model = perOffset.groupBy(_.key).values
        .map(_.minBy(r => (r.offset, r.topic, r.partition))).toSet
      val spark = SparkSpec.session
      import spark.implicits._
      val df = rs.map(r => (r.topic, r.partition, r.offset, r.key, r.key))
        .toDF("topic", "partition", "offset", "doc_id", "payload")
      val got = graft.ingest.Ingest.dedupFirstWins(df)
        .select($"topic", $"partition", $"offset", $"doc_id")
        .as[(String, Int, Long, String)].collect()
        .map(t => R(t._1, t._2, t._3, t._4)).toSet
      got == model
    }, cases = 30)
  }

  test("schema evolution: random ALTER sequences preserve naming invariants") {
    import graft.table.SchemaEvolution
    import org.apache.spark.sql.connector.catalog.TableChange
    import org.apache.spark.sql.types._
    val nameGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "Alpha", "n_tok",
      "doc_id", "lang", "x1")
    val changeGen: Gen[Int => Seq[String] => TableChange] =
      Gen.oneOf(
        Gen.const((i: Int) => (pool: Seq[String]) =>
          TableChange.addColumn(Array(pool(i % pool.size)), StringType, true)),
        Gen.const((i: Int) => (pool: Seq[String]) =>
          TableChange.deleteColumn(Array(pool(i % pool.size)), true)),
        Gen.const((i: Int) => (pool: Seq[String]) =>
          TableChange.renameColumn(Array(pool(i % pool.size)),
            pool((i * 7 + 3) % pool.size))))
    val seqGen = for {
      names <- Gen.listOfN(12, nameGen)
      mk <- Gen.listOfN(12, changeGen)
      idx <- Gen.listOfN(12, Gen.choose(0, 1000))
    } yield mk.zip(idx).map { case (f, i) => f(i)(names) }
    check("evolveInvariants", Prop.forAll(seqGen) { changes =>
      // Apply the sequence one change at a time; a rejected change
      // (guard fired) is simply skipped — the accepted prefix must
      // ALWAYS satisfy the invariants.
      val end = changes.foldLeft(graft.table.TokenTable.tokenSchema) { (acc, c) =>
        try SchemaEvolution.evolve(acc, Seq(c))
        catch { case _: IllegalArgumentException => acc }
      }
      val logicals = end.fields.map(f => SchemaEvolution.logicalName(f).toLowerCase)
      val physicals = end.fieldNames.map(_.toLowerCase)
      val core = Set("doc_id", "tokens", "n_tok", "source")
      // 1. logical names unique; 2. physical names unique; 3. no
      // logical name shadows a DIFFERENT column's physical name; 4. the
      // four core physical columns always survive; 5. only core columns
      // may bear a core logical name; 6. the logical map is a bijection
      // onto the fields.
      logicals.distinct.length == logicals.length &&
        physicals.distinct.length == physicals.length &&
        end.fields.forall(f => !end.fields.exists(g => (g ne f) &&
          g.name.equalsIgnoreCase(SchemaEvolution.logicalName(f)))) &&
        core.forall(physicals.contains) &&
        end.fields.forall(f => !core.contains(
          SchemaEvolution.logicalName(f).toLowerCase) || core.contains(f.name)) &&
        SchemaEvolution.logicalToPhysical(end).size == end.fields.length
    }, cases = 300)
  }
}
