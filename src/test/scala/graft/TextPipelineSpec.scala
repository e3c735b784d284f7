package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Repetition filters, PII redaction, and token-window chunking — the
  * quality/prep stages added on top of the extraction pipeline.
  */
class TextPipelineSpec extends AnyFunSuite {
  import TestSpark.{sf0001, spark}
  import spark.implicits._

  private def extractedFrame(rows: (String, String, String)*) =
    rows.toDF("url", "status", "text")

  test("repetition: duplicate lines and dominant 2-grams are measured and flagged") {
    val f = extractedFrame(
      // 4 lines, "same line" three times: dup_line_frac = 2/4 = 0.5 → flagged
      ("u1", "completed", "same line\nsame line\nsame line\nunique"),
      // dominant 2-gram: "buy now" repeated; 8 tokens, all "buy now" pairs
      ("u2", "completed", "buy now buy now buy now buy now"),
      // benign prose (long enough that no single 2-gram can dominate —
      // the Gopher top-2gram rule presumes non-trivial doc length)
      ("u3", "completed",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa\n" +
          "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"),
      ("u4", "failed", "ignored"))
    val out = TextAnalysis.textRepetition(f).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("u1", "u2", "u3"))
    val u1 = out("u1")
    assert(u1.getLong(1) == 4L) // n_lines
    assert(u1.getDouble(2) == 0.5) // dup_line_frac
    assert(u1.getBoolean(6)) // flagged
    val u2 = out("u2")
    assert(u2.getString(4) == "buy now") // top_2gram (7 occurrences beats "now buy" at 3... tie rules)
    assert(u2.getDouble(5) > 0.5) // dominant
    assert(u2.getBoolean(6))
    val u3 = out("u3")
    assert(u3.getDouble(2) == 0.0 && !u3.getBoolean(6))
  }

  test("repetition: 2-gram tiebreak is deterministic (count desc, gram asc)") {
    // "a b a b": grams = a b, b a, a b → "a b" wins by count
    // "x y y x": grams = x y, y y, y x → all count 1 → "x y" wins lexicographically? no: "x y" vs "y x" vs "y y" → "x y"
    val f = extractedFrame(
      ("t1", "completed", "a b a b"),
      ("t2", "completed", "x y y x"))
    val out = TextAnalysis.textRepetition(f).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(out("t1") == "a b")
    assert(out("t2") == "x y")
  }

  test("pii: injected contacts are counted and redacted; clean docs untouched") {
    val out = TextAnalysis.textPii(spark, sf0001)
      .filter(col("doc_id") < 7)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc_id 0: email; 1: phone; 2: ipv4; 3-6: clean
    assert(out(0L).getInt(1) == 1 && out(0L).getBoolean(5))
    assert(out(0L).getString(4).contains("<EMAIL>"))
    assert(!out(0L).getString(4).contains("@"))
    assert(out(1L).getInt(2) == 1 && out(1L).getString(4).contains("<PHONE>"))
    assert(out(2L).getInt(3) == 1 && out(2L).getString(4).contains("<IP>"))
    (3L to 6L).foreach { id =>
      val r = out(id)
      assert(r.getInt(1) + r.getInt(2) + r.getInt(3) == 0)
      assert(!r.getBoolean(5))
    }
    // redaction never leaves a raw match behind, corpus-wide
    val leaked = TextAnalysis.textPii(spark, sf0001)
      .filter(col("redacted_text").rlike(TextAnalysis.EmailRe) ||
        col("redacted_text").rlike(TextAnalysis.PhoneRe) ||
        col("redacted_text").rlike(TextAnalysis.Ipv4Re)).count()
    assert(leaked == 0L)
  }

  test("url canonicalization: case, default port, query, fragment, trailing slash all collapse") {
    import graft.operators.UrlDedup
    val cases = Seq(
      "https://Host.Example/a/b" -> "https://host.example/a/b",
      "HTTPS://host.example:443/a/b" -> "https://host.example/a/b",
      "http://host.example:80/a/b" -> "http://host.example/a/b",
      // default-port strip is scheme-conditional: :80 on https and :443 on
      // http are genuinely non-default and must stay distinct
      "https://host.example:80/a/b" -> "https://host.example:80/a/b",
      "http://host.example:443/a/b" -> "http://host.example:443/a/b",
      "https://host.example:8080/a/b" -> "https://host.example:8080/a/b", // non-default port kept
      "https://host.example/a/b?utm_source=x&id=7" -> "https://host.example/a/b",
      "https://host.example/a/b#frag" -> "https://host.example/a/b",
      "https://host.example/a/b///" -> "https://host.example/a/b",
      "https://host.example/" -> "https://host.example")
    val got = cases.map(_._1).toDF("url")
      .select(UrlDedup.canonicalCol(col("url"))).as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) => assert(g == want, s"url $in") }
  }

  test("url canonicalization: total on malformed input (never throws, deterministic)") {
    import graft.operators.UrlDedup
    val junk = Seq("", "notaurl", "http://", "https:///path", "ftp://h:21/x",
      "https://host:99999/a", "//schemeless/path", "https://host?only=query")
    val out = junk.toDF("url")
      .select(UrlDedup.canonicalCol(col("url"))).as[String].collect()
    assert(out.length == junk.length) // no exceptions, one row each
    // twice-canonicalized equals once-canonicalized (idempotent) for real URLs
    val real = Seq("https://Host.Example:443/a/b?x=1#f/")
    val once = real.toDF("url").select(UrlDedup.canonicalCol(col("url"))).as[String].collect()
    val twice = once.toSeq.toDF("url").select(UrlDedup.canonicalCol(col("url"))).as[String].collect()
    assert(once.sameElements(twice))
  }

  test("url dedup: every canonical group is exactly original + its variant") {
    import graft.operators.UrlDedup
    val extracted = TestSpark.queries("extract_main")(spark, sf0001)
    val groups = UrlDedup.urlDedup(extracted)
      .as[(String, Long, String)].collect()
    val nCompleted = extracted.filter(col("status") === "completed").count()
    assert(groups.length == nCompleted) // nothing merged across distinct pages
    assert(groups.forall(_._2 == 2L)) // each original collapsed with its variant
    // originals are already canonical, so the group key equals the original
    val originals = extracted.filter(col("status") === "completed")
      .select(col("url")).as[String].collect().toSet
    assert(groups.forall(g => originals.contains(g._1)))
  }

  test("lm score: common-token docs outscore rare-token docs; full-vocab corpus has no OOV") {
    val scores = graft.operators.TextAnalysis.textLmScore(spark, sf0001)
      .as[(Long, Long, Double, Double)].collect()
    assert(scores.length == 500)
    assert(scores.forall(_._3 < 0.0)) // log-probs
    assert(scores.forall(_._4 == 0.0)) // vocab cap doesn't bind at this size
    assert(scores.map(_._3).distinct.length > 10) // the score discriminates
    // reconstruct the model's own ranking signal: the doc holding the
    // corpus's single most frequent token sequence should not be the worst
    val (worstDoc, bestDoc) = (scores.minBy(_._3), scores.maxBy(_._3))
    assert(worstDoc._3 < bestDoc._3)
  }

  test("approximate sketches track the exact distribution (the 100 TB stats path)") {
    // the registered text_length_quantiles query is EXACT (oracle-
    // comparable); at real scale you run the sketch versions — pin their
    // error against the exact answers so the scale path is trustworthy
    val docs = graft.operators.Relational.table(spark, sf0001, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).as("n_tokens"))
    val (exactD, approxD) = docs
      .agg(countDistinct(col("doc_id")), approx_count_distinct(col("doc_id")))
      .as[(Long, Long)].head()
    assert(math.abs(approxD - exactD).toDouble / exactD < 0.05,
      s"HLL off by more than 5%: $approxD vs $exactD")
    val (exactP, approxP) = docs
      .agg(expr("percentile(n_tokens, 0.9)"),
        expr("CAST(approx_percentile(n_tokens, 0.9, 1000) AS DOUBLE)"))
      .as[(Double, Double)].head()
    assert(math.abs(approxP - exactP) / exactP < 0.05,
      s"approx p90 off by more than 5%: $approxP vs $exactP")
  }

  test("chunks: window/stride tiling covers every token with the configured overlap") {
    val chunks = TextAnalysis.textChunks(spark, sf0001)
      .as[(Long, Int, Int, Int, String)].collect()
      .groupBy(_._1)
    val docs = graft.operators.Relational.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (id, cs) =>
      val toks = docs(id).split("\\s+").filter(_.nonEmpty)
      val sorted = cs.sortBy(_._2)
      // chunk count = number of stride starts below n_tokens
      val expectedStarts = 0 until toks.length by TextAnalysis.ChunkStride
      assert(sorted.length == expectedStarts.length, s"doc $id")
      sorted.zip(expectedStarts).foreach { case ((_, _, nDoc, nChunk, text), st) =>
        assert(nDoc == toks.length)
        val expected = toks.slice(st, st + TextAnalysis.ChunkWindow)
        assert(nChunk == expected.length, s"doc $id start $st")
        assert(text == expected.mkString(" "), s"doc $id start $st")
      }
    }
    // adjacent chunks overlap by window - stride tokens (when both full)
    val overlap = TextAnalysis.ChunkWindow - TextAnalysis.ChunkStride
    chunks.values.filter(_.length >= 2).take(5).foreach { cs =>
      val s2 = cs.sortBy(_._2)
      s2.sliding(2).foreach { case Array(a, b) =>
        if (a._4 == TextAnalysis.ChunkWindow && b._4 >= overlap) {
          val aToks = a._5.split(' ')
          val bToks = b._5.split(' ')
          assert(aToks.takeRight(overlap).sameElements(bToks.take(overlap)))
        }
      }
    }
  }

  test("decontaminate: planted benchmark-overlap docs are flagged, donors excluded") {
    import graft.operators.TrainingSet
    val got = TestSpark.queries("decontaminate")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    // every planted doc (donor snippet embedded verbatim) is flagged with
    // ALL of its snippet's 13-gram windows hitting
    val windowsPerSnippet = TrainingSet.SnipLen - TrainingSet.NGram + 1
    val planted = got.keys.filter(_ >= 2000000L)
    assert(planted.nonEmpty)
    planted.foreach(id => assert(got(id) == windowsPerSnippet.toLong, s"doc $id"))
    // donors themselves (the benchmark) never appear in the training output
    assert(got.keys.forall(id => !(id < 2000000L && id % 50 == 0)))
    // hits are bounded by the snippet window count
    assert(got.values.forall(n => n >= 1 && n <= windowsPerSnippet.toLong))
  }

  test("robots_filter: prefix Disallow semantics, per-host accounting closes") {
    val rows = TestSpark.queries("robots_filter")(spark, sf0001)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (host, nRules, nUrls, nBlocked, nAllowed) =>
      assert(nBlocked + nAllowed == nUrls, host) // accounting closes
      // even-length hosts carry the extra /src3/ rule
      assert(nRules == (if (host.length % 2 == 0) 3L else 2L), host)
    }
    // the policy actually bites: some blocked, some allowed overall
    assert(rows.map(_._4).sum > 0 && rows.map(_._5).sum > 0)
    // prefix semantics: 'Disallow: /src1' must block /src1/... AND
    // /src10/... /src19/... (robots prefixes are raw string prefixes,
    // not path segments) — verify against a driver-side recount
    val urls = TestSpark.queries("extract_main")(spark, sf0001)
      .filter(col("status") === "completed").select(col("url")).as[String].collect()
    val wantBlocked = urls.count { u =>
      val host = u.split("/")(2)
      val path = u.substring(u.indexOf(host) + host.length)
      path.startsWith("/src1") ||
        (host.length % 2 == 0 && path.startsWith("/src3/"))
    }
    assert(rows.map(_._4).sum == wantBlocked.toLong)
  }

  test("bpe_pair_stats: one merge-selection round over the corpus") {
    val rows = TestSpark.queries("bpe_pair_stats")(spark, sf0001)
      .as[(String, Long)].collect()
    assert(rows.length == 32)
    // every pair is two symbols from the word alphabet
    rows.foreach { case (p, n) =>
      assert(p.length == 2 && p.forall(c => c.isDigit || (c >= 'a' && c <= 'z')), p)
      assert(n > 0)
    }
    // ranking is count-desc with pair-asc tiebreak (total order)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1), s"$a !>= $b")
    }
    // cross-check the top pair against a direct per-word recount
    val words = graft.operators.Relational.table(spark, sf0001, "documents")
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("w"))
      .as[String].collect()
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    words.foreach { w =>
      var i = 0
      while (i + 1 < w.length) { counts(w.substring(i, i + 2)) += 1; i += 1 }
    }
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(32)
    assert(rows.toSeq == want)
  }

  test("substring_dedup: planted near-dup pairs share their window sets") {
    val rows = TestSpark.queries("substring_dedup")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    val plantedCopies = rows.map(_._1).filter(_ >= 1000000L)
    assert(plantedCopies.nonEmpty)
    plantedCopies.foreach { cid =>
      val base = cid - 1000000L
      assert(byId.contains(base), s"base $base of planted copy $cid not flagged")
      // every window of the base re-occurs verbatim inside the copy (the
      // copy only APPENDS a marker suffix) -> base dup_frac is exactly 1.0
      assert(byId(base)._4 == 1.0, s"base $base dup_frac")
      // the copy has the same windows plus suffix-spanning ones
      assert(byId(cid)._2 >= byId(base)._2, s"copy $cid window count")
    }
  }

  test("substring_dedup_hashed: identical rows to the string-keyed operator") {
    // the scale twin shuffles xxhash64(window) instead of the window
    // string; equality against the string-keyed answer IS the
    // collision-freedom check on this corpus
    val a = TestSpark.queries("substring_dedup")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val b = TestSpark.queries("substring_dedup_hashed")(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("corpus_pack: output invariant to input partitioning, both bucket regimes") {
    import graft.operators.{Dedup, Relational, TrainingSet}
    val toks = Relational.table(spark, sf0001, "documents")
      .select(col("doc_id"),
        least(size(Dedup.tokensCol(col("text"))), lit(TrainingSet.PackBudget)).as("n_tok"))
    // buckets < shuffle partitions (one bucket per partition) AND
    // buckets > shuffle partitions (fold crosses bucket boundaries
    // within a task): identical output for any input layout in both
    for (buckets <- Seq(7L, 200L)) {
      val base = TrainingSet.corpusPackFrom(spark, toks, Some(buckets)).collect().toSeq
      assert(base.nonEmpty)
      for (parts <- Seq(1, 17)) {
        val alt = TrainingSet.corpusPackFrom(spark, toks.repartition(parts), Some(buckets))
          .collect().toSeq
        assert(alt == base, s"buckets=$buckets parts=$parts")
      }
    }
  }

  test("corpus_pack: bucket count grows with corpus size, floored for small corpora") {
    import graft.operators.TrainingSet
    assert(TrainingSet.packBucketsFor(0L) == TrainingSet.PackMinBuckets)
    assert(TrainingSet.packBucketsFor(500L) == TrainingSet.PackMinBuckets)
    // 10^9 docs -> ~244k groups of ~PackGroupDocs docs, not 32 mega-groups
    val big = TrainingSet.packBucketsFor(1000000000L)
    assert(big == (1000000000L + TrainingSet.PackGroupDocs - 1) / TrainingSet.PackGroupDocs)
    assert(big > 200000L)
  }

  test("corpus_pack: budget respected, sequences contiguous, every doc packed once") {
    import graft.operators.TrainingSet
    val rows = TestSpark.queries("corpus_pack")(spark, sf0001)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, nDocs, nTok, frac) =>
      assert(nTok <= TrainingSet.PackBudget) // no sequence over budget
      assert(nDocs >= 1)
      assert(frac == math.round(nTok.toDouble / TrainingSet.PackBudget * 1000) / 1000.0)
    }
    // per bucket: seq numbers are 0..k contiguous
    rows.groupBy(_._1).foreach { case (b, rs) =>
      val seqs = rs.map(_._2).sorted
      assert(seqs.sameElements(seqs.indices.map(_.toLong)), s"bucket $b seqs")
    }
    // conservation: every document lands in exactly one sequence
    val packed = rows.map(_._3).sum
    val total = graft.operators.Relational.table(spark, sf0001, "documents").count()
    assert(packed == total)
    // greedy density: a sequence only closes because the next doc would
    // not fit, so all but each bucket's last sequence are > half full
    // when docs are <= budget/2... weaker universal check: mean fill is
    // meaningfully dense, not one-doc-per-sequence
    val meanDocs = rows.map(_._3).sum.toDouble / rows.length
    assert(meanDocs > 1.5, s"packing degenerated to ~1 doc/seq ($meanDocs)")
  }

  test("corpus_mix_sample: deterministic resampling realizes the planned boosts") {
    val rows = TestSpark.queries("corpus_mix_sample")(spark, sf0001)
      .as[(String, Long, Double, Long, Double, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (lang, nDocs, boost, nSampled, realized, _) =>
      // copies = floor(boost) + Bernoulli(frac) under a uniform-ish hash:
      // the realized boost must track the planned one
      assert(math.abs(realized - boost) < 0.25, s"$lang planned $boost realized $realized")
      // hard bounds: floor(boost) <= realized <= ceil(boost)
      assert(nSampled >= nDocs * math.floor(boost).toLong, lang)
      assert(nSampled <= nDocs * math.ceil(boost).toLong, lang)
    }
    // dominant language downsampled (boost < 1), rarest upsampled (> 1)
    val bySize = rows.sortBy(_._2)
    assert(bySize.last._4 < bySize.last._2) // en: fewer sampled than docs
    assert(bySize.head._4 > bySize.head._2) // rarest: more sampled than docs
    // determinism: a second run is identical (hash thresholds, no rand)
    val again = TestSpark.queries("corpus_mix_sample")(spark, sf0001)
      .as[(String, Long, Double, Long, Double, Double)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("corpus_mix: temperature weights sum to 1 and boost is inverse to size") {
    val rows = TestSpark.queries("corpus_mix")(spark, sf0001)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(rows.length == 5)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-3) // mix_frac ~sums to 1
    val bySize = rows.sortBy(_._2)
    // smaller language -> larger boost (strictly, sizes here are distinct)
    bySize.map(_._5).sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    assert(bySize.last._1 == "en" && bySize.last._5 < 1.0) // dominant damped
    assert(bySize.head._5 > 1.0) // rarest boosted
  }
}
