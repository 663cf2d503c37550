package graft

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq(1).toDF("x").select(c).collect()(0).get(0).asInstanceOf[T]

  test("vector distances match hand-computed values") {
    val a = typedLit(Seq(1.0f, 2.0f, 2.0f))
    val b = typedLit(Seq(2.0f, 0.0f, 1.0f))
    assert(one[Double](VectorFunctions.dot(a, b)) === 4.0)
    assert(one[Double](VectorFunctions.normL2(a)) === 3.0)
    assert(one[Double](VectorFunctions.manhattan(a, b)) === 4.0)
    assert(one[Double](VectorFunctions.chebyshev(a, b)) === 2.0)
    assert(math.abs(one[Double](VectorFunctions.euclidean(a, b)) - math.sqrt(6.0)) < 1e-12)
    val cos = one[Double](VectorFunctions.cosineSimilarity(a, b))
    assert(math.abs(cos - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
    // tanimoto = dot / (|a|^2+|b|^2-dot) = 4 / (9+5-4)
    assert(math.abs(one[Double](VectorFunctions.tanimoto(a, b)) - 0.4) < 1e-12)
  }

  test("cosineSimilarityFast is bit-identical to the expression form") {
    val vecs = (0 until 50).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(64)(r.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("id", "v")
    val pairs = df.as("a").crossJoin(df.as("b"))
      .filter($"a.id" < $"b.id")
    val both = pairs.select(
      VectorFunctions.cosineSimilarity($"a.v", $"b.v").as("expr"),
      VectorFunctions.cosineSimilarityFast($"a.v", $"b.v").as("fast"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native CosineSimilarityExpr: bit-identical to UDF and expression forms, codegen-compiled") {
    import graft.functions.CosineSimilarityExpr
    val vecs = (0 until 30).map { i =>
      val r = new scala.util.Random(100 + i)
      (i.toLong, Seq.fill(32)(r.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("id", "v")
    val pairs = df.as("a").crossJoin(df.as("b")).filter($"a.id" < $"b.id")
    val out = pairs.select(
      CosineSimilarityExpr($"a.v", $"b.v").as("native"),
      VectorFunctions.cosineSimilarityFast($"a.v", $"b.v").as("fast"))
    out.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // the expression participates in whole-stage codegen (no UDF boundary):
    // the `*(n)` prefix marks codegen stages in the compact plan form
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosinesimilarityexpr"))
    // type checking rejects wrong input types with a clear message
    val err = intercept[Exception] {
      Seq((Seq(1.0), Seq(2.0))).toDF("a", "b")
        .select(CosineSimilarityExpr($"a", $"b")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_similarity") ||
      err.getMessage.toLowerCase.contains("array<float>"))
  }

  test("ByteUnitsExpr: bijective byte->U+2800+b remap, multi-byte UTF-8 " +
    "expansion, caseless under lower(), codegen-compiled") {
    import graft.functions.ByteUnitsExpr
    val rows = Seq(
      (1L, "abc"),                    // ASCII: 3 bytes
      (2L, "café"),              // 2-byte tail: c3 a9
      (3L, "😀"),           // U+1F600: f0 9f 98 80
      (4L, ""),                       // empty -> empty
      (5L, "a b"))                    // space byte 0x20 maps too
    val df = rows.toDF("id", "s")
    val out = df.select($"id", ByteUnitsExpr($"s").as("u"),
      org.apache.spark.sql.functions.lower(ByteUnitsExpr($"s")).as("lu"))
    val got = out.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    def units(bs: Seq[Int]) = bs.map(b => (0x2800 + b).toChar).mkString
    assert(got(1L)._1 === units(Seq('a', 'b', 'c').map(_.toInt)))
    assert(got(2L)._1 === units(Seq('c', 'a', 'f').map(_.toInt) ++ Seq(0xc3, 0xa9)))
    assert(got(3L)._1 === units(Seq(0xf0, 0x9f, 0x98, 0x80)))
    assert(got(4L)._1 === "")
    assert(got(5L)._1 === units(Seq('a'.toInt, 0x20, 'b'.toInt)))
    // unit length == UTF-8 byte count; caseless: lower() is identity
    rows.foreach { case (id, s) =>
      assert(got(id)._1.length === s.getBytes("UTF-8").length, s"id=$id")
      assert(got(id)._2 === got(id)._1, s"id=$id lower-stability")
    }
    // bijection across ALL 256 bytes: distinct units, and the unit
    // decodes back to its byte
    val all = (0 until 256).map(b => (0x2800 + b).toChar)
    assert(all.distinct.size === 256)
    // stays inside whole-stage codegen (repartition blocks the
    // local-relation constant fold so a real Project plans; collect
    // first so AQE finalizes and the *(n) codegen stage marks render)
    val cg = df.repartition(2).select(ByteUnitsExpr($"s"))
    cg.collect()
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.contains("Project [byteunitsexpr") &&
      plan.contains("*(1) Project"), plan)
  }

  test("tokens / shingles / token counts") {
    val df = Seq("the quick  brown fox").toDF("text")
    assert(df.select(TextFunctions.tokenCount($"text")).collect()(0).getInt(0) === 4)
    val sh = df.select(TextFunctions.wordShingles($"text", 2)).collect()(0).getSeq[String](0)
    assert(sh === Seq("the quick", "quick brown", "brown fox"))
    // punctuation-aware BPE-ish count: "don't stop!" -> don, ', t, stop, !
    val bpe = Seq("don't stop!").toDF("text")
      .select(TextFunctions.tokenCountBpe($"text")).collect()(0).getInt(0)
    assert(bpe === 5)
  }

  test("ShingleHashesExpr is bit-identical to the local kernel and codegen'd") {
    import graft.functions.Hashes
    val cases = Seq(
      "the quick  brown fox", // double space
      " leading and trailing \t\n ", // regex-\s whitespace variety
      "one", // fewer tokens than n
      "", // empty
      "dup dup dup dup", // duplicate shingles collapse
      "héllo wörld héllo wörld", // multi-byte UTF-8
      "a b a b a b c") // repeats with a tail
    val df = cases.toDF("text")
    val native = df.select(Hashes.shingleHashCol($"text", 2)).collect()
      .map(_.getSeq[Long](0))
    val expected = cases.map(t => Hashes.shingleHashes(t, 2).toSeq)
    assert(native.toSeq === expected)
    // null text -> empty array (the UDF behavior downstream explode relies on)
    val withNull = Seq(Option("x y"), None).toDF("text")
      .select(Hashes.shingleHashCol($"text", 2)).collect().map(_.getSeq[Long](0))
    assert(withNull(1) === Seq.empty)
    // stays inside whole-stage codegen (non-foldable input so the project
    // isn't constant-folded into a LocalTableScan)
    val plan = spark.range(3)
      .select(concat(lit("tok "), $"id".cast("string")).as("text"))
      .select(Hashes.shingleHashCol($"text", 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [shinglehashesexpr"))
  }

  test("PosShingleHashesExpr: positional, duplicates kept, codegen'd") {
    import graft.functions.{Hashes, PosShingleHashesExpr}
    val cases = Seq(
      "the quick  brown fox", // double space
      "a b a b a b c", // repeats: positional form KEEPS duplicates
      "one", // fewer tokens than n
      "", // empty
      "héllo wörld héllo wörld") // multi-byte UTF-8
    val df = cases.toDF("text")
    val native = df.select(PosShingleHashesExpr($"text", 2)).collect()
      .map(_.getSeq[Long](0))
    val expected = cases.map(t => Hashes.posShingleHashes(t, 2).toSeq)
    assert(native.toSeq === expected)
    // element i = hash of the window at token i; set form is its distinct-sort
    val rep = Hashes.posShingleHashes("a b a b a b c", 2)
    assert(rep.length === 6 && rep(0) === rep(2) && rep(0) === rep(4))
    assert(rep.distinct.sorted.toSeq ===
      Hashes.shingleHashes("a b a b a b c", 2).toSeq)
    val withNull = Seq(Option("x y"), None).toDF("text")
      .select(PosShingleHashesExpr($"text", 2)).collect().map(_.getSeq[Long](0))
    assert(withNull(1) === Seq.empty)
    val plan = spark.range(3)
      .select(concat(lit("tok "), $"id".cast("string")).as("text"))
      .select(PosShingleHashesExpr($"text", 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [posshinglehashesexpr"))
  }

  test("Gopher repetition signals: hand-computed fractions, short-doc zeros") {
    import graft.functions.TextFunctions._
    val rows = Seq("a a a b", "x y x y x y", "one")
    val got = rows.toDF("text").select(
      dupNgramFrac($"text", 2).as("d2"),
      topNgramCharFrac($"text", 2).as("t2"),
      dupNgramCharFrac($"text", 2).as("c2"),
      dupNgramCharFrac($"text", 5).as("c5"))
      .as[(Double, Double, Double, Double)].collect()
    // "a a a b": bigrams {a a, a a, a b} -> dup 1/3; top "a a" run 2 -> 6/7 chars
    assert(math.abs(got(0)._1 - 1.0 / 3) < 1e-12)
    assert(math.abs(got(0)._2 - 6.0 / 7) < 1e-12)
    assert(math.abs(got(0)._3 - 6.0 / 7) < 1e-12) // the "a a" run is the only dup
    assert(got(0)._4 === 0.0) // no 5-grams in a 4-token doc
    // "x y x y x y": {x y}x3 + {y x}x2 -> dup 3/5; top run 3*3/11; dup chars (9+6)/11
    assert(math.abs(got(1)._1 - 0.6) < 1e-12)
    assert(math.abs(got(1)._2 - 9.0 / 11) < 1e-12)
    assert(math.abs(got(1)._3 - 15.0 / 11) < 1e-12)
    // single token: every signal 0, no division blowups
    assert(got(2) === ((0.0, 0.0, 0.0, 0.0)))
  }

  /** Reference for [[graft.functions.NgramRepetitionExpr]]: the
    * higher-order-function formulation of the character-coverage signals
    * (word n-grams in document order as joined strings, array_sort, then
    * one `aggregate` run scan). */
  private object HofRepetition {
    private def posNgrams(text: Column, n: Int) = {
      val toks = TextFunctions.tokens(text)
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(lit(Array.empty[String]))
    }

    def top(text: Column, n: Int): Column = {
      val best = aggregate(array_sort(posNgrams(text, n)),
        struct(lit("").as("prev"), lit(0).as("run"), lit("").as("best"), lit(0).as("bestRun")),
        (acc, x) => {
          val run = when(acc.getField("prev") === x, acc.getField("run") + 1).otherwise(lit(1))
          val better = run > acc.getField("bestRun")
          struct(x.as("prev"), run.as("run"),
            when(better, x).otherwise(acc.getField("best")).as("best"),
            when(better, run).otherwise(acc.getField("bestRun")).as("bestRun"))
        })
      (best.getField("bestRun").cast("double") * length(best.getField("best")).cast("double")) /
        greatest(length(text), lit(1)).cast("double")
    }

    def dup(text: Column, n: Int): Column = {
      val total = aggregate(array_sort(posNgrams(text, n)),
        struct(lit("").as("prev"), lit(0).as("run"), lit(0L).as("acc")),
        (acc, x) => {
          val cont = acc.getField("prev") === x
          val closed = when(!cont && acc.getField("run") >= 2,
            acc.getField("run").cast("long") * length(acc.getField("prev")).cast("long"))
            .otherwise(lit(0L))
          struct(x.as("prev"),
            when(cont, acc.getField("run") + 1).otherwise(lit(1)).as("run"),
            (acc.getField("acc") + closed).as("acc"))
        },
        acc => acc.getField("acc") + when(acc.getField("run") >= 2,
          acc.getField("run").cast("long") * length(acc.getField("prev")).cast("long"))
          .otherwise(lit(0L)))
      total.cast("double") / greatest(length(text), lit(1)).cast("double")
    }
  }

  test("NgramRepetitionExpr is bit-identical to the HOF reference on the " +
    "codegen and interpreted paths (fuzz + whitespace/UTF-8/tie/prefix edges)") {
    import graft.functions.NgramRepetitionExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val edges = Seq[String](null, "", "   ", " \t\n ",
      "a\tb\u000Bc\fd\re a\tb\u000Bc", // every \s separator; \u000B is one
      " lead and trail  ", "h\u00e9llo w\u00f6rld h\u00e9llo w\u00f6rld \u65e5\u672c \u65e5\u672c x",
      "\ud83d\ude00 a \ud83d\ude00 a", // 4-byte code points: chars != bytes
      "one two", "solo",
      "bb a bb a cc", // tied top unigrams of different lengths: "a" wins
      "a b a b a bc a bc a bc", // prefix pair "a b" / "a bc"
      "a\u0001 z a\u0001 z a b a b", // control byte < 0x20 sorts before the joiner
      "a\u007f z a\u007f z a b a b", "x\u00a0y x\u00a0y x y") // NBSP is not \s
    val vocab = Seq("a", "ab", "abc", "b", "a\u0001", "\u00e9", "\u00e9t\u00e9",
      "\u65e5", "\ud83d\ude00", "z")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", " \r\n")
    val rnd = new scala.util.Random(2026L)
    val fuzz = (1 to 150).map { _ =>
      val k = rnd.nextInt(40)
      val toks = Seq.fill(k)(vocab(rnd.nextInt(1 + rnd.nextInt(vocab.length))))
      (if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.length)) else "") +
        toks.map(_ + seps(rnd.nextInt(seps.length))).mkString
    }
    val texts = edges ++ fuzz
    // an RDD-backed frame: a local relation would be folded by the
    // optimizer through the interpreted path
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(org.apache.spark.sql.Row(_)), 3),
      StructType(Seq(StructField("text", StringType))))
    for (n <- 1 to 5) {
      // kernel and reference in separate projections: the reference's
      // CodegenFallback lambdas would keep a shared one out of codegen
      val q = df.select($"text",
        NgramRepetitionExpr($"text", n, dup = false), NgramRepetitionExpr($"text", n, dup = true))
      assert(q.queryExecution.executedPlan.toString.contains("*(1) Project [text"),
        "the kernel must run inside whole-stage codegen")
      val rows = q.collect()
      val ref = df.select(HofRepetition.top($"text", n), HofRepetition.dup($"text", n))
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      assert(rows.map(_.getString(0)).toSeq === texts)
      rows.zip(ref).foreach { case (r, (top, dup)) =>
        val t = r.getString(0)
        assert(r.getDouble(1) === top, s"top n=$n $t")
        assert(r.getDouble(2) === dup, s"dup n=$n $t")
        val textLit = Literal.create(t, StringType)
        assert(NgramRepetitionExpr(textLit, n, dup = false).eval() === top,
          s"interpreted top n=$n $t")
        assert(NgramRepetitionExpr(textLit, n, dup = true).eval() === dup,
          s"interpreted dup n=$n $t")
      }
      if (n == 1) {
        // the tie goes to the smallest unigram, not the longest: 2 * 1 / 12
        val tie = rows.find(_.getString(0) == "bb a bb a cc").get
        assert(tie.getDouble(1) === 2.0 / 12)
      }
    }
  }

  test("MinHashSigExpr matches the local kernel; text→sig composition holds") {
    import graft.functions.Hashes
    val texts = Seq("a b c d e a b", "x y", "", "solo")
    val df = texts.toDF("text")
    val native = df.select(Hashes.minhashFromText($"text", 2, 16)).collect()
      .map(_.getSeq[Long](0))
    val expected = texts.map(t => Hashes.minHashSignature(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Hashes.wordShinglesLocal(t, 2)), 16).toSeq)
    assert(native.toSeq === expected)
    // null input signs the empty set (sentinel signature, not null)
    val withNull = Seq(Option("x y"), None).toDF("text")
      .select(Hashes.minhashFromHashes(Hashes.shingleHashCol($"text", 2), 16))
      .collect().map(_.getSeq[Long](0))
    assert(withNull(1) === Seq.fill(16)((1L << 32) - 1))
  }

  test("SimHashExpr is bit-identical to the reference UDF, handles " +
    "null/empty, and stays native (no ScalaUDF) in the plan") {
    import graft.functions.{Hashes, SimHashExpr, TextFunctions}
    val rnd = new scala.util.Random(163L)
    val texts = (1 to 40).map { i =>
      (0 until rnd.nextInt(30)).map(_ => s"w${rnd.nextInt(20)}").mkString(" ")
    } ++ Seq("", "solo", "a 😀 b", "x:y z")
    val df = texts.toDF("text")
    val toks = TextFunctions.tokens($"text")
    val native = df.select(SimHashExpr(toks)).collect().map(_.getLong(0))
    val viaUdf = df.select(Hashes.simhashUdf(toks)).collect().map(_.getLong(0))
    assert(native.toSeq === viaUdf.toSeq)
    // local-kernel agreement on a hand fixture, empty signs 0
    assert(native(texts.indexOf("")) === 0L)
    assert(df.select(SimHashExpr(toks)).head().getLong(0) ===
      Hashes.simHash64(texts.head.split("\\s+").filter(_.nonEmpty).toSeq))
    // null input signs 0, not null
    val withNull = Seq(Option("x y"), None).toDF("text")
      .select(SimHashExpr(TextFunctions.tokens($"text"))).collect()
    assert(!withNull(1).isNullAt(0) && withNull(1).getLong(0) === 0L)
    // empty elements skip inside the kernel: feeding the raw split equals
    // the UDF over filtered tokens — this is what lets callers drop the
    // ArrayFilter HOF (CodegenFallback) from the signature pass
    val viaSplit = df.select(SimHashExpr(split($"text", "\\s+")))
      .collect().map(_.getLong(0))
    assert(viaSplit.toSeq === viaUdf.toSeq)
    // the production entry point (Hashes.simhash) rides the expression:
    // no UDF boundary, and over a split-only input the whole projection
    // stays in ONE codegen span (a filter(...) wrapper would evict it;
    // non-foldable source — a literal fixture constant-folds to
    // LocalTableScan and hides the span)
    val rdf = spark.range(100)
      .select(concat_ws(" ", lit("tok"), $"id".cast("string")).as("text"))
    val plan = rdf.select(Hashes.simhash(split($"text", "\\s+")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"simhash must stay native:\n$plan")
    assert(plan.contains("*(1) Project [simhashexpr"),
      s"expected the signature projection inside a codegen span:\n$plan")
  }

  test("langId picks dominant stopword language; CJK short-circuits") {
    val rows = Seq(
      "the cat sat on the mat with a hat",          // en
      "el gato y la casa de la playa es bonita",    // es
      "le chat et le chien pour la maison",         // fr
      "der hund und die katze ist nicht hier",      // de
      "你好世界 hello",                              // zh via CJK
      "zzz qqq xxx www"                             // und
    ).toDF("text")
    val got = rows.select(TextFunctions.langId($"text")).as[String].collect().toSeq
    assert(got === Seq("en", "es", "fr", "de", "zh", "und"))
  }

  test("SIMILAR TO translation: wildcards, alternation, escapes") {
    import graft.functions.Scalars
    val df = Seq("PROMO BRUSHED STEEL", "STANDARD POLISHED TIN", "50% off", "x").toDF("s")
    def matches(pat: String) =
      df.filter(Scalars.similarTo($"s", pat)).as[String].collect().toSet
    assert(matches("PROMO%") === Set("PROMO BRUSHED STEEL"))
    assert(matches("%(STEEL|TIN)") ===
      Set("PROMO BRUSHED STEEL", "STANDARD POLISHED TIN"))
    assert(matches("_") === Set("x"))
    assert(matches("50\\% off") === Set("50% off"))
  }

  test("quality score bounded in [0,1]") {
    val df = Seq("", "the a of to in is", "x" * 6000).toDF("text")
    val qs = df.select(TextFunctions.qualityScore($"text")).as[Double].collect()
    qs.foreach(q => assert(q >= 0.0 && q <= 1.0))
  }

  test("GraftExtensions: native expressions callable from SQL text") {
    import graft.functions.{GraftExtensions, Hashes}
    GraftExtensions.register(spark)
    val fp = spark.sql("SELECT fnv1a64('hello world 42') AS h").as[Long].head()
    assert(fp === Hashes.fnv1a64("hello world 42"))
    val cs = spark.sql("""SELECT cosine_similarity(
        CAST(array(1.0, 0.0) AS array<float>),
        CAST(array(1.0, 0.0) AS array<float>)) AS c""").as[Double].head()
    assert(math.abs(cs - 1.0) < 1e-12)
    // the config-path injector wires the same descriptors
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; descriptors validated above
    // arity errors are loud, not silent
    intercept[Exception](spark.sql("SELECT fnv1a64('a', 'b')").collect())
  }

  test("GraftExtensions: dedup + tokenizer expressions callable from SQL " +
    "text, bit-identical to the Column API") {
    import graft.functions.{GraftExtensions, Hashes}
    GraftExtensions.register(spark)
    val txt = "the quick brown fox jumps over the lazy dog"
    // shingle_hashes: SQL == local kernel
    val shSql = spark.sql(s"SELECT shingle_hashes('$txt', 2) AS s")
      .as[Seq[Long]].head()
    assert(shSql === Hashes.shingleHashes(txt, 2).toSeq)
    // pos_shingle_hashes: positional sibling, duplicates kept
    val posSql = spark.sql(s"SELECT pos_shingle_hashes('$txt', 2) AS s")
      .as[Seq[Long]].head()
    assert(posSql === Hashes.posShingleHashes(txt, 2).toSeq)
    // minhash_sig composes over it: SQL == local kernel
    val sigSql = spark.sql(
      s"SELECT minhash_sig(shingle_hashes('$txt', 2), 16) AS s")
      .as[Seq[Long]].head()
    assert(sigSql ===
      Hashes.minHashSignatureFromHashes(Hashes.shingleHashes(txt, 2), 16).toSeq)
    // wordpiece_encode with the array-literal vocab form: SQL == Column API
    val vocab = Seq("un", "##aff", "##able", "aff")
    val sqlRow = spark.sql(
      """SELECT wordpiece_encode('unaffable',
           array('un', '##aff', '##able', 'aff')) AS e""")
      .select($"e.w_toks", $"e.unk").as[(Long, Boolean)].head()
    val apiRow = Seq("unaffable").toDF("w")
      .select(org.apache.spark.sql.GraftExprBridge.column(
        graft.functions.WordpieceEncodeExpr(
          org.apache.spark.sql.GraftExprBridge.expression($"w"), vocab)).as("e"))
      .select($"e.w_toks", $"e.unk").as[(Long, Boolean)].head()
    assert(sqlRow === apiRow && sqlRow === ((3L, false)))
    // shape parameters must be literals — a column reference is rejected
    // at analysis, not silently mis-planned
    intercept[Exception] {
      Seq(2).toDF("n").createOrReplaceTempView("nv")
      spark.sql("SELECT shingle_hashes('ab cd', n) FROM nv").collect()
    }
    // periodic_trim: SQL == Column API == the documented rule
    val trimSql = spark.sql(
      "SELECT periodic_trim('buy now buy now buy now then stop', 2) AS t")
      .as[String].head()
    assert(trimSql === "buy now then stop")
    // ... and an out-of-Int-range BIGINT literal is an analysis error,
    // not a silent Long.toInt truncation (4294967296 would wrap to k=0)
    val wide = intercept[Exception] {
      spark.sql(
        s"SELECT minhash_sig(shingle_hashes('$txt', 2), 4294967296) AS s")
        .collect()
    }
    assert(wide.getMessage.contains("out of Int range") ||
      Option(wide.getCause).exists(_.getMessage.contains("out of Int range")))
  }

  test("TimeOfDay laws: decomposition, parse/format, date re-anchoring") {
    import graft.functions.TimeOfDay._
    import org.apache.spark.sql.functions._
    // ZONE INVARIANT pin (TimeOfDay object doc): microsOfDay is UTC
    // arithmetic while formatSeconds/parseMicros are session-zoned — the
    // laws below only cohere under a UTC session zone. If this assert
    // fires, the harness zone drifted; fix the session, not the helpers.
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "TimeOfDay helpers require spark.sql.session.timeZone=UTC")
    val df = Seq(
      "2023-11-14 22:13:20.123456", "1970-01-01 00:00:00",
      "1969-07-20 20:17:40.5", // pre-epoch: pmod must keep tod in [0, day)
      "2024-02-29 23:59:59.999999").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    val got = df.select(
      microsOfDay(col("ts")).as("tod"),
      hourOf(microsOfDay(col("ts"))).as("h"),
      minuteOf(microsOfDay(col("ts"))).as("m"),
      secondOf(microsOfDay(col("ts"))).as("sec"),
      parseMicros(formatSeconds(col("ts"))).as("reparsed"),
      unix_micros(atDate(to_date(col("ts")).cast("timestamp"),
        microsOfDay(col("ts")))).as("rebuilt"),
      unix_micros(col("ts")).as("us")).collect()
    got.foreach { r =>
      val (tod, h, m, sec) = (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(tod >= 0 && tod < MicrosPerDay)
      // decomposition law: extract fields recompose to the truncated second
      assert((h.toLong * 3600 + m * 60 + sec) * 1000000L == tod / 1000000L * 1000000L)
      // parse(format(ts)) == tod truncated to seconds
      assert(r.getLong(4) == tod / 1000000L * 1000000L)
      // date + time re-anchoring reproduces the original instant exactly
      assert(r.getLong(5) == r.getLong(6))
    }
  }
}
