package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.functions.TextFunctions
import graft.operators.Flatten
import graft.sink.MergeWriter

/** Property tests for the documented laws (SURVEY.md §5):
  *  - flatten: idempotent on flat frames; row count = product of outer
  *    array sizes (with empty/null arrays counting 1 — the null-preserving
  *    explode semantics of docs/document/01.MongoDB Ingestion.md:89-145);
  *  - precombine dedup: keeps exactly one row per key, the max-precombine
  *    one, for ANY batch;
  *  - native text kernels ≡ built-in HOF formulation for ANY string. */
class PropertySpec extends SparkSuite {

  /** scalacheck without the scalatestplus bridge (not on the offline
    * classpath): draw N samples and assert each. */
  private def forAll[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
    }
  }

  import spark.implicits._

  test("flatten row count = product of array lengths; idempotent after") {
    val gen = Gen.listOfN(3, Gen.chooseNum(0, 4))
    forAll(gen) { sizes =>
      val schema = StructType(Seq(
        StructField("k", IntegerType),
        StructField("xs", ArrayType(StructType(Seq(StructField("a", IntegerType))))),
        StructField("ys", ArrayType(StructType(Seq(StructField("b", IntegerType))))),
        StructField("zs", ArrayType(StructType(Seq(StructField("c", IntegerType)))))))
      val arrays = sizes.map(n => (1 to n).map(Row(_)))
      val df = spark.createDataFrame(
        java.util.List.of(Row(0, arrays(0), arrays(1), arrays(2))), schema)
      val flat = Flatten(df)
      val expected = sizes.map(n => math.max(n, 1).toLong).product
      assert(flat.count() === expected)
      assert(Flatten(flat).columns.toSeq === flat.columns.toSeq)
    }
  }

  test("precombine dedup keeps exactly the max-precombine row per key") {
    val rowGen = for {
      k <- Gen.chooseNum(0L, 5L)
      v <- Gen.chooseNum(0L, 100L)
    } yield (k, v)
    forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val df = rows.toDF("id", "ver").withColumn("tag", concat(lit("r"), col("ver")))
      val deduped = MergeWriter.dedupByPrecombine(df, Seq("id"), "ver")
        .as[(Long, Long, String)].collect()
      val expect = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      assert(deduped.length === expect.size)
      deduped.foreach { case (k, v, tag) =>
        assert(v === expect(k))
        assert(tag === s"r$v")
      }
    }
  }

  test("native token/shingle kernels == built-in HOF chains on random text") {
    TextFunctions.ensureRegistered(spark)
    val wordGen = Gen.oneOf("the", "a", "Fox", "δοκιμή", "x1", "", "-")
    val textGen = Gen.listOf(wordGen).map(_.mkString(" "))
    forAll(Gen.listOfN(8, textGen)) { texts =>
      val df = texts.toDF("text")
      val toks = split(lower(col("text")), " ")
      val cmp = df.select(
        TextFunctions.tokenSet(col("text")).as("n1"),
        array_sort(array_distinct(toks)).as("b1"),
        TextFunctions.shingleSet(col("text"), 2).as("n2"),
        when(size(toks) >= 2,
          array_sort(array_distinct(transform(sequence(lit(0), size(toks) - 2),
            i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))))
          .otherwise(array().cast("array<string>")).as("b2"))
      assert(cmp.filter(col("n1") =!= col("b1") || col("n2") =!= col("b2")).count() === 0)
    }
  }

  /** (node, min id of its component) by driver-side union-find with path
    * compression, over the non-self edges. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.filter { case (a, b) => a != b }.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** connectedComponents(edges) is exactly the union-find labelling, one row
    * per node; returns the number of rounds it took. */
  private def assertComponents(edges: Seq[(Long, Long)]): Int = {
    var rounds = 0
    val got = graft.ops.Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"),
        onRound = (r, _) => rounds = r)
      .as[(Long, Long)].collect()
    assert(got.map(_._1).distinct.length === got.length, "a node listed twice")
    assert(got.toMap === unionFind(edges))
    rounds
  }

  test("connectedComponents == union-find on random graphs") {
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))
    forAll(edgeGen, n = 5) { edges =>
      if (edges.exists { case (a, b) => a != b }) assertComponents(edges)
    }
  }

  test("connectedComponents == union-find with duplicate, reversed and self-loop edges") {
    val edgeGen = Gen.listOfN(20,
      Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)))
    forAll(edgeGen, n = 5) { edges =>
      val noisy = edges ++ edges.take(5) ++ edges.take(7).map(_.swap) ++
        Seq((3L, 3L), (40L, 40L)) // 40 only has a self-loop: no component
      assertComponents(noisy)
    }
  }

  test("connectedComponents on an 80-node path with shuffled ids needs several rounds") {
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 80L).map(_ * 13 + 5))
    val path = ids.zip(ids.tail)
    val rounds = assertComponents(rnd.shuffle(path))
    assert(rounds >= 3, s"a long path converged in $rounds rounds")
  }

  test("connectedComponents on a star beside isolated pairs") {
    // the center is neither the smallest nor the largest id of its star
    val star = Seq(1L, 4L, 9L, 30L, 31L, 77L).map(leaf => (20L, leaf))
    val pairs = Seq((100L, 101L), (103L, 102L), (2L, 200L))
    assertComponents(star ++ pairs)
  }

  test("fix_mojibake(mojibake(s)) == s for ANY unicode string; clean text untouched") {
    graft.functions.TextFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions.col
    // full unicode spread: ascii, latin-1 accents, CJK, astral (emoji)
    val charGen = Gen.frequency(
      4 -> Gen.alphaNumChar,
      2 -> Gen.chooseNum(0xA0, 0xFF).map(_.toChar),
      1 -> Gen.chooseNum(0x4E00, 0x4FFF).map(_.toChar),
      1 -> Gen.const('\uD83D'), 1 -> Gen.const('\uDE00')) // surrogate pair parts
    val strGen = Gen.listOf(charGen).map { cs =>
      // keep surrogates PAIRED (lone surrogates are not valid strings)
      val s = cs.mkString
      s.filter(c => !Character.isSurrogate(c)) +
        (if (cs.exists(Character.isSurrogate)) "😀" else "")
    }
    forAll(Gen.listOfN(6, strGen)) { texts =>
      if (texts.nonEmpty) {
        val rows = texts.toDF("s").select(
          col("s"),
          graft.functions.TextFunctions.fixMojibake(
            graft.functions.TextFunctions.mojibake(col("s"))).as("roundtrip"))
          .collect()
        rows.foreach(r => assert(r.getString(1) === r.getString(0),
          s"repair must invert the corruption for ${r.getString(0)}"))
      }
    }
  }

  test("NFC(NFD(s)) == NFC(s) for ANY string (normalization is canonical)") {
    graft.functions.TextFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions.col
    val accentGen = Gen.oneOf("é", "ü", "ñ", "å", "ç", "ō", "a", "z", " ")
    val strGen = Gen.listOf(accentGen).map(_.mkString)
    forAll(Gen.listOfN(6, strGen)) { texts =>
      if (texts.nonEmpty) {
        val rows = texts.toDF("s").select(
          graft.functions.TextFunctions.unicodeNormalize(
            graft.functions.TextFunctions.unicodeNormalize(col("s"), "NFD"),
            "NFC").as("viaNfd"),
          graft.functions.TextFunctions.unicodeNormalize(col("s"), "NFC").as("direct"))
          .collect()
        rows.foreach(r => assert(r.getString(0) === r.getString(1)))
      }
    }
  }
}
