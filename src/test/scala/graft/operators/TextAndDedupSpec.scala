package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("C8 cleanText: char map, gate, truncate (clean.go:9-102)") {
    val rows = Seq(
      "curly “quotes” & em—dash… here",
      "tiny",                     // < 5 chars => gated to ""
      ("long " * 40).trim,        // > 80 chars => truncated with ellipsis
      "it’s a ‘test’ with | pipe", // curly singles + pipe DELETED (not folded)
      "uüber™ café") // ü->u, TM deleted, é deleted
      .toDF("t").select(TextFunctions.cleanText(col("t"), 80)).collect()
      .map(_.getString(0))
    assert(rows(0) == "curly \"quotes\" and em-dash... here")
    assert(rows(1) == "")
    assert(rows(2).length == 80 && rows(2).endsWith("..."))
    assert(rows(3) == "its a test with  pipe")
    assert(rows(4) == "uuber caf")
  }

  test("CleanTextFold kernel equals the declarative Column chain on arbitrary inputs") {
    import org.scalacheck.{Gen, rng}
    // every char class the kernel special-cases, drawn from the kernel's
    // OWN tables (1:1 folds, deletions incl. astral pairs) plus the
    // &/ellipsis expansions, newlines, spaces, and plain words
    import graft.expressions.CleanTextKernel
    def cpStrings(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toSeq
    }
    val special = cpStrings(CleanTextKernel.ONE2ONE_FROM) ++
      cpStrings(CleanTextKernel.DELETE_CHARS) ++
      Seq("&", "\u2026", "\n", " ", "word", "ab", "\n\n")
    val gen = Gen.listOfN(250,
      Gen.chooseNum(0, 24).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(special.toIndexedSeq)).map(_.mkString)))
    val samples = (Seq("", "tiny", "exactly5", ("long " * 40).trim) ++
      gen.apply(Gen.Parameters.default, rng.Seed(7L)).get).distinct
    for (maxLen <- Seq(5, 10, 80)) {
      val rows = samples.toDF("t")
        .select(TextFunctions.cleanText(col("t"), maxLen).as("k"),
          TextFunctions.cleanTextColumnForm(col("t"), maxLen).as("c"))
        .collect()
      rows.zip(samples).foreach { case (r, s) =>
        assert(r.getString(0) == r.getString(1),
          s"maxLen=$maxLen diverged on ${s.take(40).replace("\n", "\\n")}: " +
            s"kernel=${r.getString(0)} column=${r.getString(1)}")
      }
    }
    // interpreted path too (no codegen)
    samples.take(30).foreach { s =>
      val got = graft.expressions.CleanTextFold(
        org.apache.spark.sql.catalyst.expressions.Literal(s), 80).eval(null).toString
      val want = Seq(s).toDF("t")
        .select(TextFunctions.cleanTextColumnForm(col("t"), 80))
        .collect().head.getString(0)
      assert(got == want, s"interpreted diverged on ${s.take(40)}")
    }
  }

  test("t13 gopher rules: pass is the conjunction of its reported measures; both classes occur") {
    val rows = TextOps.gopherRules(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (nw, wl, al, sh, pass) =>
      val expect = nw >= TextOps.G_MIN_WORDS &&
        wl >= TextOps.G_MEAN_WLEN_MIN && wl <= TextOps.G_MEAN_WLEN_MAX &&
        al >= TextOps.G_MIN_ALPHA_PERMILLE && sh >= TextOps.G_MIN_STOP_HITS
      assert(pass == (if (expect) 1 else 0), s"($nw,$wl,$al,$sh) -> $pass")
    }
    // the rules discriminate on this corpus — a gate that passes (or
    // fails) everything is a mis-tuned gate
    assert(rows.exists(_._5 == 1) && rows.exists(_._5 == 0))
  }

  test("C8 newline-join quirk: appends whole sections while under maxLen (clean.go:14-24)") {
    // maxLen 10: starts with "aaaa" (4 < 10), appends " bbbb" (9 < 10),
    // appends " cccc" (overshoots to 14 — the reference checks BEFORE
    // appending), then stops; 14 > 10 => truncate to 7 + "..."
    val r = Seq("aaaa\nbbbb\ncccc\ndddd").toDF("t")
      .select(TextFunctions.cleanText(col("t"), 10)).collect().head.getString(0)
    assert(r == "aaaa bb...")
  }

  test("C9 cleanString strips non-alphanumerics (clean.go:105-111)") {
    val r = Seq("a-b_c 1!2@3#").toDF("t")
      .select(TextFunctions.cleanString(col("t"))).collect().head.getString(0)
    assert(r == "abc123")
  }

  test("tokenCount / bpeishTokenCount") {
    val r = Seq("hello world, 42 ok!").toDF("t")
      .select(TextFunctions.tokenCount(col("t")),
        TextFunctions.bpeishTokenCount(col("t"))).collect().head
    assert(r.getInt(0) == 4)
    // hello | world | , | 42 | ok | !  => 6
    assert(r.getInt(1) == 6)
  }

  test("langId picks marker-heavy language; und on no hits") {
    val r = Seq("the cat and the dog is here",
      "der hund und die katze ist da",
      "xyzzy plugh").toDF("t")
      .select(TextFunctions.langId(col("t"))).collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "de", "und"))
  }

  test("fingerprint: formatting-noise-insensitive, content-sensitive") {
    val r = Seq("Hello  World", "hello world", "hello worlds").toDF("t")
      .select(TextFunctions.fingerprint(col("t"))).collect().map(_.getLong(0))
    assert(r(0) == r(1)) // case + whitespace folded
    assert(r(1) != r(2)) // content change changes the fingerprint
  }

  test("t11 typicality: common-token docs outscore rare-token docs") {
    val out = TextOps.typicality(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 500)
    // every doc tokenizes to >0 tokens; scores are positive (every token
    // occurs at least once, so tf/N >= 1/N > 0)
    assert(out.forall { case (_, n, t) => n > 0 && t > 0 })
    // the corpus vocabulary is ~30 very common words, so scores must be
    // well above the 1-occurrence floor (1e9/N) for typical docs
    val n_total = out.map(_._2).sum
    val floor1 = 1.0e9 / n_total
    assert(out.count(_._3 > 100 * floor1) > 400, "scores look degenerate")
  }

  test("t10 pii: planted email/phone/IP are counted and redacted") {
    val out = TextOps.piiRedaction(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // planting by residue: doc_id % 7 -> email, % 11 -> phone, % 13 -> IP
    out.foreach { case (id, em, ph, ip) =>
      assert(em == (if (id % 7 == 0) 1 else 0), s"doc $id emails")
      assert(ph == (if (id % 11 == 0) 1 else 0), s"doc $id phones")
      assert(ip == (if (id % 13 == 0) 1 else 0), s"doc $id ips")
    }
    // doc 0 has all three residues: every marker must be redacted
    val red = Seq((0L, "x y z reach user0@example.com call 555-867-5309 host 10.0.0.42"))
      .toDF("doc_id", "t")
      .select(regexp_replace(regexp_replace(regexp_replace(col("t"),
        TextOps.emailRe, "<EMAIL>"),
        TextOps.phoneRe, "<PHONE>"),
        TextOps.ipRe, "<IP>")).collect().head.getString(0)
    assert(red == "x y z reach <EMAIL> call <PHONE> host <IP>")
  }
}

/** Near-dup detection on planted duplicates: a corpus of distinct docs plus
  * pairs that differ by one token must be caught by MinHash LSH and SimHash,
  * and not flood with false positives.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
  private def doc(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  private lazy val corpus = {
    val base = (0 until 40).map(i => (i.toLong, doc(60)))
    // planted near-dups: copy doc i with one token changed
    val nd = Seq(100L -> (base(3)._2.replaceFirst("\\w+", "CHANGED")),
      101L -> (base(7)._2 + " extra"))
    // exact dup
    val xd = Seq(200L -> base(5)._2)
    (base ++ nd ++ xd).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")))
  }

  private def withDocs[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    f(dir)
  }

  test("minhash LSH finds planted near-dups and the exact dup") {
    withDocs { dir =>
      val pairs = Dedup.minhashLshPairs(spark, dir, threshold = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((3L, 100L)), s"missing planted near-dup (3,100): $pairs")
      assert(pairs.contains((7L, 101L)), s"missing planted near-dup (7,101): $pairs")
      assert(pairs.contains((5L, 200L)), s"missing exact dup (5,200): $pairs")
      // no flood: well under all-pairs (43*42/2 = 903)
      assert(pairs.size < 20, s"too many candidate pairs: ${pairs.size}")
    }
  }

  test("minhash est_jaccard is 1.0 on the exact dup") {
    withDocs { dir =>
      val est = Dedup.minhashLshPairs(spark, dir, threshold = 0.5)
        .filter(col("id_a") === 5 && col("id_b") === 200)
        .select("est_jaccard").collect().head.getDouble(0)
      assert(est == 1.0)
    }
  }

  test("simhash: aggregate formulation equals the per-row expression") {
    withDocs { dir =>
      val agg = Dedup.simhashFingerprints(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perRow = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), Dedup.simhash(col("text")).as("s")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(agg == perRow)
    }
  }

  test("simhash: exact dup identical; near-dup within small hamming distance") {
    withDocs { dir =>
      val fp = Dedup.simhashFingerprints(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fp(5L) == fp(200L))
      val ham = java.lang.Long.bitCount(fp(3L) ^ fp(100L))
      assert(ham <= 16, s"near-dup hamming distance too large: $ham")
      // distinct random docs should differ broadly on average
      val hamFar = java.lang.Long.bitCount(fp(0L) ^ fp(1L))
      assert(hamFar > 8)
    }
  }

  test("d11 cross-source matrix: every planted mirror pair detected, nothing else") {
    val out = Dedup.crossSourceDupMatrix(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    // planted mirrors are the ONLY cross-source copies: each pair is
    // (srcK, srcK_mirror) and counts exactly the planted hashes
    out.foreach { case (a, b, n) =>
      assert(b == a + "_mirror", s"unexpected pair ($a, $b)")
      assert(n >= 1)
    }
    val totalShared = out.map(_._3).sum
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(totalShared == (0L until docs).count(_ % Dedup.MIRROR_EVERY == 0))
  }

  test("d12 containment: a quoted doc is flagged inside its container, low-overlap pairs are not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "A B C D E F G H"),                       // contained
      (2L, "en", "A B C D E F G H X Y Z W"),               // container (quotes 1)
      (3L, "en", "A B C P Q R S T U V")                    // shares a prefix only
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.containmentPairsOn(docs, Dedup.MAX_POSTING_LEN)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 1 (6 trigrams) fully inside doc 2; doc 3 shares only "A B C"
    assert(out.toSeq == Seq((1L, 2L, 6L, 6L, 1000L)))

    // the registered query's planted quoters are all detected as containers
    val planted = Dedup.containmentPairs(spark, "/root/testdata/sf0.001")
      .filter(col("container_id") >= Dedup.QUOTE_ID_OFFSET)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val docsN = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
    val expected = (0L until docsN).count(_ % Dedup.QUOTE_EVERY == 0)
    assert(planted.count { case (c, q, _) => q == c + Dedup.QUOTE_ID_OFFSET } == expected)
    // a quoted original is ~fully covered
    planted.filter { case (c, q, _) => q == c + Dedup.QUOTE_ID_OFFSET }
      .foreach { case (_, _, permille) => assert(permille >= 990L) }
  }

  test("d10 paragraph dedup: shared chunks flagged, first occurrence survives") {
    val stats = Dedup.paragraphDedupStats(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.length == 500)
    // every doc chunks into ceil(n_tokens/8) paragraphs, none empty
    assert(stats.forall { case (_, n, dup, _) => n > 0 && dup >= 0 && dup <= n })
    // a duplicate instance is never charged to the FIRST occurrence: the
    // minimum doc_id in the corpus owning any given paragraph keeps it,
    // so total dups < total paras and doc 0's first chunk is never a dup
    val total = stats.map(_._2).sum
    val dups = stats.map(_._3).sum
    assert(dups < total)
    // permille arithmetic is the exact floor over integers
    stats.foreach { case (_, n, dup, pm) =>
      assert(pm == math.floor(1000.0 * dup / n).toLong)
    }
  }

  test("cross-operator consistency: d04 MinHash estimates track d03 exact Jaccard") {
    val d = "/root/testdata/sf0.01"
    val exact = Dedup.ngramJaccardPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        r.getLong(2).toDouble / r.getLong(3)).toMap
    val est = Dedup.minhashLshPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val both = exact.keySet intersect est.keySet
    assert(both.nonEmpty, "no pair found by both d03 and d04")
    // 32-hash MinHash: sd(est) = sqrt(J(1-J)/32) <= 0.09; 0.35 is ~4 sigma
    both.foreach { k =>
      assert(math.abs(exact(k) - est(k)) <= 0.35,
        s"pair $k: exact ${exact(k)} vs minhash ${est(k)}")
    }
    // the incremental tiers over the %INC_SPLIT split of the planted
    // corpus: d16 pairs delta doc 100 with its base original 3; d18's exact
    // tier is d17, which catches planted byte-copies, and its near tier is
    // d16 minus the exact-matched docs, so no exact match reaches a band
    withDocs { dir =>
      val near = Dedup.incrementalNearDup(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq
      assert(near.exists(r => r._1 == 100L && r._2 == 3L && r._4 == 1), s"d16: $near")
      val exactTier = Dedup.incrementalExact(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(exactTier.exists(_._1 >= Dedup.EXACT_PLANT_OFFSET), s"d17: $exactTier")
      val composed = Dedup.exactThenNear(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSeq
      assert(composed.filter(_._2 == "exact").map(r => (r._1, r._3)) == exactTier)
      val exactIds = exactTier.map(_._1).toSet
      assert(composed.filter(_._2 == "near").map(r => (r._1, r._3, r._4, r._5)) ==
        near.filterNot(r => exactIds(r._1)))
    }
  }

  test("d13 substring coverage: full copies score 1000, one shared window scores exactly k, unique text 0") {
    val w = (1 to 20).map(i => s"w$i").mkString(" ")           // 20 tokens
    val sharedRun = (5 to 12).map(i => s"w$i").mkString(" ")   // one 8-token window of A
    val docs = Seq(
      (1L, w),                                    // full copy pair with 2
      (2L, w),
      (3L, s"x1 x2 x3 $sharedRun y1"),            // 12 tokens, 8 shared
      (4L, (1 to 15).map(i => s"z$i").mkString(" "))) // unique
      .toDF("doc_id", "text")
    val out = Dedup.substringDupStatsOn(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // identical docs: every token covered, permille exactly 1000
    assert(out(1L) == ((20L, 20L, 1000L)) && out(2L) == ((20L, 20L, 1000L)))
    // doc 3 shares exactly one rolling window with doc 1/2 (positions 3..10)
    assert(out(3L)._2 == Dedup.SUBSTR_TOKENS.toLong)
    // ...and that window also marks 8 of doc 1's tokens — but doc 1 is
    // already fully covered by its full copy, so no double counting
    assert(out(4L) == ((15L, 0L, 0L)))
  }

  test("t12 boilerplate removes ALL instances of a viral chunk, unlike d10's keep-first") {
    val d = "/root/testdata/sf0.01"
    // expected flags recomputed independently from the shared chunk table
    val chunks = Dedup.paraChunkTable(spark.read.parquet(s"$d/documents.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val viral = chunks.groupBy(_._2).filter(_._2.length >= TextOps.BOILER_MIN).keySet
    val expBoiler = chunks.filter(c => viral(c._2))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val out = TextOps.boilerplateRemoval(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viral.nonEmpty, "fixture must carry organic boilerplate")
    out.foreach { case (id, n) => assert(n == expBoiler.getOrElse(id, 0L)) }
    // EVERY instance of a viral chunk is counted: total flags equal the
    // full group sizes (d10 would spare one per group)
    val totalFlagged = out.values.sum
    val groupTotal = chunks.count(c => viral(c._2)).toLong
    assert(totalFlagged == groupTotal && totalFlagged > viral.size)
  }
}

/** ANN recall vs brute force on the real embeddings table. */
class SimilaritySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("ann lsh results are a subset of same-bucket candidates with decent recall@10") {
    val brute = Similarity.cosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity.annLshTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every ANN hit must be a true corpus vector; recall averaged over queries
    val recalls = brute.keys.toSeq.sorted.map { q =>
      val b = brute(q); val a = ann.getOrElse(q, Set.empty)
      a.intersect(b).size.toDouble / b.size
    }
    val avg = recalls.sum / recalls.size
    // random-hyperplane bucketing on 8 planes: recall well above chance
    assert(avg >= 0.2, s"avg recall@10 too low: $avg ($recalls)")
  }

  test("ann ivf recall@10 above chance; probes only N_PROBE/N_CELLS of the corpus") {
    val brute = Similarity.cosineTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.annIvfTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.keys.toSeq.sorted.map { q =>
      val b = brute(q); val a = ivf.getOrElse(q, Set.empty)
      a.intersect(b).size.toDouble / b.size
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.2, s"avg ivf recall@10 too low: $avg ($recalls)")
  }

  test("brute-force cosine self-consistency: top1 of a cluster member shares its label often") {
    val df = Similarity.cosineTopK(spark, sfDir, nQueries = 5, k = 1)
    assert(df.count() == 5)
    assert(df.filter(col("cosine") > -1.0 && col("cosine") < 1.0000001).count() == 5)
  }

  test("s04 semantic dedup: planted near-dups are dropped, cells partition the corpus") {
    val cells = Similarity.semanticDedup(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(cells.map(_._1).toSeq == (1 to Similarity.N_CELLS))
    // cells partition corpus + planted copies exactly
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val nPlanted = (0L until nVecs).count(_ % Similarity.PLANT_EVERY == 0)
    assert(cells.map(_._2).sum == nVecs + nPlanted)
    // at least one planted near-dup lands in its original's cell and is dropped
    assert(cells.map(_._3).sum > 0, "semantic dedup dropped nothing")
    // never drop more than the cluster holds
    cells.foreach { case (_, n, drp) => assert(drp < n) }
  }

  test("s05 k-means step: cells partition the corpus, means move toward members") {
    val out = Similarity.kmeansStep(spark, sfDir).collect()
    assert(out.map(_.getInt(0)).toSeq == (1 to Similarity.N_CELLS))
    val nVecs = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(out.map(_.getLong(1)).sum == nVecs)
    out.foreach { r =>
      val shift = r.getDouble(2)
      // a refined centroid stays correlated with its seed but must move
      // (shift strictly below 1) unless the cell is a single point
      assert(shift > 0.0 && shift <= 1.0, s"cell ${r.getInt(0)} shift $shift")
      // checked projection folds the array to a 16-hex-char fingerprint
      // (the driver comparator can't sort ArrayType cells)
      assert(r.getString(3).matches("[0-9a-f]{16}"))
    }
    // the step must actually refine something: average shift below 0.999
    val avg = out.map(_.getDouble(2)).sum / out.length
    assert(avg < 0.999, s"centroids did not move: avg shift $avg")
    // the raw-array library form still exposes full 64-dim centroids
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val raw = Similarity.kmeansStepFrom(corpus, Similarity.seedCentroids(corpus))
    assert(raw.head().getSeq[Long](3).length == 64)
  }

  test("s07 SQ8 ranking stays close to the exact s01 ranking (recall@10 >= 0.8)") {
    val exact = Similarity.cosineTopK(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val sq8 = Similarity.sq8TopK(spark, sfDir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(exact.keySet == sq8.keySet && exact.nonEmpty)
    val recalls = exact.keys.toSeq.map { q =>
      (exact(q) intersect sq8(q)).size.toDouble / exact(q).size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"SQ8 recall@10 degraded to $mean (per-query $recalls)")
  }

  test("s03 scale path is executable: cell partitions the written index; a probe prunes") {
    // the s03/s04 design claim — "cell is a write-time partition key at
    // scale" — as running code: write the assigned corpus partitioned by
    // cell, probe one cell, and the scan must PRUNE partitions (read
    // only that cell's files), not filter rows post-scan
    val dir = java.nio.file.Files.createTempDirectory("ivfpart").toString
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val assigned = Similarity.assignToCells(corpus, Similarity.seedCentroids(corpus))
    assigned.write.partitionBy("cell").mode("overwrite").parquet(dir)
    val expected = assigned.filter(col("cell") === 2).count()
    assert(expected > 0, "cell 2 empty — pick a different probe cell")
    val probed = spark.read.parquet(dir).filter(col("cell") === 2)
    assert(probed.count() == expected)
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") && p.contains("cell"),
      s"probe did not prune partitions:\n${p.take(800)}")
  }

  test("assignToCells equals a plain-Scala ranking, ties included, with no window or exchange") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Long] = Array.fill(8)((rnd.nextInt(2001) - 1000).toLong)
    // non-dense cell ids; planted exact ties that must break by ascending
    // cell: 9 and 4 share a vector, and 30 is 12's vector doubled (the
    // score dot/|c| is scale-free and both scalings are exact in IEEE)
    val base = Array.fill(6)(vec())
    val cents: Seq[(Int, Array[Long])] = Seq(9 -> base(0), 4 -> base(0).clone(),
      21 -> base(1), 12 -> base(2), 30 -> base(2).map(_ * 2), 2 -> base(3))
    // random rows, plus rows ON the tied centroids so the ties rank first,
    // one ON the untied centroid 21, and a null qv (ranks no cell: dropped)
    val rows: Seq[(Long, Array[Long], String)] =
      (0 until 40).map(i => (i.toLong, vec(), s"t$i")) ++
        Seq((100L, base(0), "tie9/4"), (101L, base(2).map(_ * 3), "tie12/30"),
          (102L, base(1), "on21"), (103L, null, "null qv"))
    val corpus = rows.toDF("vec_id", "qv", "tag")
    val centsDf = cents.toDF("cell", "centroid")
    def dot(a: Array[Long], b: Array[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    def expected(nBest: Int): Set[(Long, String, Int, Int)] =
      rows.filter(_._2 != null).flatMap { case (id, qv, tag) =>
        cents.map { case (c, cv) => (dot(qv, cv).toDouble / math.sqrt(dot(cv, cv).toDouble), c) }
          .sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
          .take(nBest).zipWithIndex.map { case ((_, c), i) => (id, tag, c, i + 1) }
      }.toSet
    for (nBest <- Seq(1, 3); keepRank <- Seq(false, true)) {
      val got = Similarity.assignToCells(corpus, centsDf, nBest, keepRank)
      // every corpus column is carried through, then cell (and r)
      assert(got.columns.toSeq ==
        Seq("vec_id", "qv", "tag", "cell") ++ (if (keepRank) Seq("r") else Nil))
      val out = got.collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3),
        if (keepRank) r.getInt(4) else 0)).toSet
      val want = expected(nBest).map(e => if (keepRank) e else e.copy(_4 = 0))
      assert(out == want, s"nBest=$nBest keepRank=$keepRank")
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.contains("Exchange"),
        s"the ranking must be a narrow per-row projection:\n$plan")
    }
    // the planted ties really are ties, broken by ascending cell
    val top = expected(2).filter(e => e._1 == 100L || e._1 == 101L).map(e => (e._1, e._3, e._4))
    assert(top == Set((100L, 4, 1), (100L, 9, 2), (101L, 12, 1), (101L, 30, 2)))
    // the s17/s18/p19 core: a2 = SSE to the own cell, b2 = least SSE to
    // any other cell id (a tied twin counts as another cell: b2 = a2)
    def sse(q: Array[Long], c: Array[Long]): Long = dot(q, q) - 2 * dot(q, c) + dot(c, c)
    val own = expected(1).map(e => e._1 -> e._3).toMap
    val cv = cents.toMap
    val wantSse = rows.filter(_._2 != null).map { case (id, qv, tag) =>
      (id, tag, own(id), sse(qv, cv(own(id))),
        cents.collect { case (c, v) if c != own(id) => sse(qv, v) }.min)
    }.toSet
    val gotSse = Similarity.cellAssignmentsOf(corpus.withColumnRenamed("tag", "label"), centsDf)
      .select("vec_id", "label", "cell", "a2", "b2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(gotSse == wantSse)
    assert(wantSse.exists(e => e._1 == 100L && e._4 == 0L && e._5 == 0L) &&
      wantSse.exists(e => e._1 == 102L && e._3 == 21 && e._4 == 0L && e._5 > 0L))
  }

  test("ANN at production k: 256 cells / 256 codes stay broadcast-safe; probe prune stays literal-bounded") {
    // N_CELLS=16 / PQ_K=16 are fixture-scaled; a production vector store
    // runs k ≈ 256+. This pins, QUANTITATIVELY at k=256 on sf0.1, the
    // structural claims the ANN family's 100 TB story rests on: the
    // centroid/codebook builds stay bounded (TakeOrderedAndProject, never
    // a corpus window), their frames stay far under the broadcast
    // threshold, the cell layout partitions cleanly at 256 dirs, and a
    // probe still prunes to its literal cells.
    import java.nio.file.Files
    import org.apache.spark.sql.execution.window.WindowExec
    val K = 256
    val d = "/root/testdata/sf0.1"
    val all = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val corpus = all.filter(col("vec_id") >= 5)
    // centroid build: bounded even at production k (the %31 sample is
    // fixture-thin, so sample every 2nd id to reach 256 candidates)
    assert(Similarity.seedCentroidPlan(corpus, K, 2L, 0L)
      .queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"))
    // the collected model is a local relation: consumers replay no scan
    val cents = Similarity.seedCentroids(corpus, nCells = K, stride = 2L, residue = 0L)
    assert(cents.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(cents.count() == K)
    // broadcast-safety is arithmetic, not hope: k × 64 dims × 8 bytes
    assert(K.toLong * 64 * 8 < 8L * 1024 * 1024)
    // assignment: the 256 centroids ride the cell-probe kernel as
    // reference objects (no join at all); every window partitions by vec_id
    val assign = Similarity.assignToCells(corpus, cents)
    val ap = assign.queryExecution.sparkPlan
    assert(ap.toString.contains("ivf_cell_probe") && !ap.toString.contains("Join"),
      ap.toString.take(1500))
    // no empty-partition window over a corpus-proportional frame (the
    // centroid rank ran inside seedCentroids, on the 256-row bound)
    assert(ap.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        !w.child.exists {
          case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
          case _: org.apache.spark.sql.execution.GlobalLimitExec => true
          case _: org.apache.spark.sql.execution.LocalLimitExec => true
          case _ => false
        } => w
    }.isEmpty, "corpus-proportional unpartitioned window in the assignment plan")
    // write-time cell layout at 256 cells; a probe prunes to its literals
    val dir = Files.createTempDirectory("ivf256").toString
    assign.select("vec_id", "cell").write.partitionBy("cell").parquet(s"$dir/cells")
    val probeCells = Seq(3, 77, 201).map(Integer.valueOf)
    val scan = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(probeCells: _*))
    val scanLine = scan.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("FileScan")).get
    assert(scanLine.contains("PartitionFilters: [") &&
      !scanLine.contains("PartitionFilters: []") && scanLine.contains("cell"),
      s"probe scan did not prune:\n$scanLine")
    assert(scan.count() ==
      assign.filter(col("cell").isin(probeCells: _*)).count())
    // PQ at k=256: codebook bounded; LUT = nQueries·M·k rows and is the
    // BROADCAST side of the scoring join
    val queries = all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv"))
    val cb = Similarity.pqCodebook(corpus, k = K)
    assert(cb.queryExecution.sparkPlan.toString.contains("TakeOrderedAndProject"))
    assert(cb.count() == K)
    val lut = Similarity.pqLut(queries, cb)
    assert(lut.count() == 5L * Similarity.PQ_M * K)
    val scoring = Similarity.pqEncode(corpus, cb).join(broadcast(lut),
      col("m") === col("lm") && col("code") === col("lj"))
    assert(scoring.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      "ADC scoring join did not broadcast the LUT")
  }

  test("s11 re-rank recovers recall over the raw ADC ranking; refine joins broadcast") {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    // exact squared-L2 ground truth, computed independently of the
    // operators under test (the metric ADC approximates)
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("quv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sq"), col("vec_id"))
    val exact = v.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .withColumn("sq",
        Similarity.qdot(col("quv"), col("quv")) +
          Similarity.qdot(col("qv"), col("qv")) -
          lit(2L) * Similarity.qdot(col("quv"), col("qv")))
      .withColumn("r", row_number().over(w)).filter(col("r") <= k)
      .select("query_id", "vec_id")
    def hitsOf(topk: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      exact.join(topk.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val adcHits = hitsOf(Similarity.ivfPqTopK(spark, sfDir))
    val rerank = Similarity.ivfPqRerank(spark, sfDir)
    val rrHits = hitsOf(rerank)
    // s10 agrees with the independent ground truth on the ADC hits
    val s10 = Similarity.ivfPqRecall(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s10 == (0L until 5L).map(q => q -> adcHits(q)).toMap, s"$s10 vs $adcHits")
    // refinement never loses a hit (the true neighbor only has to be in
    // the top-C, not at its exact ADC rank) and recovers some on this
    // corpus (deterministic fixture: 7 -> 14 of 50)
    (0L until 5L).foreach(q =>
      assert(rrHits(q) >= adcHits(q), s"query $q: ${rrHits(q)} < ${adcHits(q)}"))
    assert(rrHits.values.sum > adcHits.values.sum,
      s"re-rank recovered nothing: $rrHits vs $adcHits")
    // the re-ranked list is drawn from the ADC shortlist, nowhere else
    val shortlist = Similarity.ivfPqTopK(spark, sfDir, 5, Similarity.RERANK_C)
      .select("query_id", "vec_id")
    assert(rerank.select("query_id", "vec_id")
      .join(shortlist, Seq("query_id", "vec_id"), "left_anti").isEmpty,
      "re-rank emitted a vector outside the ADC shortlist")
    // s15 is the s09 ranking with the deletion slice dropped before the
    // top-k: survivors keep their s09 order and backfill the freed ranks
    val s15 = Similarity.ivfPqDeleteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val backfilled = Similarity.ivfPqTopK(spark, sfDir, 5, Similarity.RERANK_C).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .filter(_._2 % Similarity.ANN_DEL_MOD != Similarity.ANN_DEL_RES)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (q, rows) =>
        rows.take(k).zipWithIndex.map { case ((_, v), i) => (q, i + 1, v) } }
    assert(s15 == backfilled)
    assert(s15.size == Similarity.ivfPqTopK(spark, sfDir).count(),
      "s15 left holes: the freed ranks did not backfill")
    // plan pin: the ranked shortlist (the plan's only per-query window
    // below a join — the ADC path's windows partition on vec_id) is only
    // ever the BROADCAST side of the refine joins; a shuffle join there
    // would exchange the corpus scan against a ≤ C·nQueries-row frame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def hasShortlist(j: SparkPlan): Boolean = j.exists {
      case we: WindowExec =>
        we.partitionSpec.exists(_.references.exists(_.name == "query_id"))
      case _ => false
    }
    val shuffledOverShortlist = rerank.queryExecution.sparkPlan.collect {
      case j: SortMergeJoinExec if hasShortlist(j) => j
      case j: ShuffledHashJoinExec if hasShortlist(j) => j
    }
    assert(shuffledOverShortlist.isEmpty,
      s"shortlist reached a shuffle join; refine must broadcast it:\n${shuffledOverShortlist.headOption}")
  }

  test("neardupReport yields d07/d14/d15 outputs from one pair-pipeline run") {
    val d = "/root/testdata/sf0.01"
    val (pairs, components, keepers, confirms) = Dedup.neardupReport(spark, d)
    assert(pairs.collect().toSet ==
      Dedup.ngramJaccardPairs(spark, d).select("id_a", "id_b").collect().toSet)
    assert(components.collect().toSeq ==
      Dedup.neardupSurvivors(spark, d).collect().toSeq)
    assert(keepers.collect().toSeq ==
      Dedup.qualitySurvivors(spark, d).collect().toSeq)
    assert(confirms.collect().toSeq ==
      Dedup.editDistancePairs(spark, d).collect().toSeq)
  }

  test("d21 unified report sections ≡ the registered d07/d14/d15 outputs") {
    val d = "/root/testdata/sf0.01"
    val rows = Dedup.neardupReportUnified(spark, d).collect()
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("component", "confirm", "keeper"))
    // component section = d07 (doc_id, component, is_survivor)
    val comp = rows.filter(_.getString(0) == "component")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(comp == Dedup.neardupSurvivors(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSeq)
    // keeper section = d14 (component, keeper_id, n_members, quality)
    val keep = rows.filter(_.getString(0) == "keeper")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toSeq
    assert(keep == Dedup.qualitySurvivors(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getDouble(3))).toSeq)
    // confirm section = d15 (id_a, id_b, edit_dist, sim_permille)
    val conf = rows.filter(_.getString(0) == "confirm")
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(conf == Dedup.editDistancePairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
    // null shape: quality only on keeper rows, val2 only on confirm rows
    assert(rows.forall(r => r.isNullAt(5) == (r.getString(0) != "keeper")))
    assert(rows.forall(r => r.isNullAt(4) == (r.getString(0) != "confirm")))
  }

  test("d15 confirmed pairs: independent DP recompute matches; threshold holds") {
    val d = "/root/testdata/sf0.01"
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Dedup.editDistancePairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "no confirmed pairs at sf0.01 — threshold mis-tuned")
    rows.foreach { case (a, b, dist, sim) =>
      val (ta, tb) = (texts(a), texts(b))
      assert(dist == lev(ta, tb), s"($a,$b) dist $dist != DP")
      val maxlen = math.max(ta.length, tb.length)
      assert(sim == 1000L * (maxlen - dist) / math.max(maxlen, 1))
      assert(sim >= Dedup.EDIT_SIM_MIN_PERMILLE)
    }
  }

  test("d14 keeps the max-quality member of each d07 component (ties -> min id)") {
    val d = "/root/testdata/sf0.001"
    val comps = Dedup.neardupSurvivors(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._2)
      .view.mapValues(_.map(_._1).toSet).toMap
    val quality = TextOps.qualityScores(spark, d).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val got = Dedup.qualitySurvivors(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSet == comps.keySet)
    got.foreach { case (comp, n, keeper, kq) =>
      val members = comps(comp)
      assert(n == members.size && members.contains(keeper))
      val best = members.map(m => (quality(m), -m)).max
      assert((kq, -keeper) == best,
        s"component $comp keeper $keeper/$kq, expected ${-best._2}/${best._1}")
    }
  }

  test("s08 PQ/ADC output equals a local reimplementation of encode + LUT scoring") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    val (m, sd, kcb, nq, topk) =
      (Similarity.PQ_M, Similarity.PQ_SUBDIM, Similarity.PQ_K, 5, 10)
    val queries = vecs.filter(_._1 < nq)
    val corpus = vecs.filter(_._1 >= nq)
    val cb = corpus.take(kcb).map(_._2)
    def d2(a: Array[Long], b: Array[Long], off: Int): Long =
      (off until off + sd).map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val codes = corpus.map { case (id, v) =>
      id -> (0 until m).map(mm => cb.indices.minBy(j => (d2(v, cb(j), mm * sd), j))).toArray
    }.toMap
    val expected = queries.flatMap { case (qid, qv) =>
      val lut = Array.tabulate(m, kcb)((mm, j) => d2(qv, cb(j), mm * sd))
      corpus.map { case (id, _) =>
        (qid, id, (0 until m).map(mm => lut(mm)(codes(id)(mm))).sum) }
        .sortBy { case (_, id, adc) => (adc, id) }
        .take(topk).zipWithIndex
        .map { case ((q, id, adc), i) => (q, i + 1, id, adc) }
    }.toSeq
    val got = Similarity.pqTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("s05 iterated: a second Lloyd step moves centroids less than the first") {
    import org.apache.spark.sql.expressions.Window
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val seed = corpus.filter(col("vec_id") % 31 === 6)
      .withColumn("cell", row_number().over(Window.orderBy(col("vec_id"))))
      .filter(col("cell") <= Similarity.N_CELLS)
      .select(col("cell"), col("qv").as("centroid"))
    val step1 = Similarity.kmeansStepFrom(corpus, seed).cache()
    val shift1 = step1.agg(avg(col("shift"))).collect().head.getDouble(0)
    val step2 = Similarity.kmeansStepFrom(corpus,
      step1.select(col("cell"), col("centroid")))
    val shift2 = step2.agg(avg(col("shift"))).collect().head.getDouble(0)
    step1.unpersist()
    // Lloyd converges: consecutive centroid sets grow more similar
    assert(shift2 > shift1, s"no convergence: step1 $shift1, step2 $shift2")
    assert(shift2 > 0.9, s"second step still moving far: $shift2")
  }
}
