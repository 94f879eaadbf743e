package graft

import org.apache.spark.sql.functions._
import graft.ext.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "the quick brown fox"),          // exact dup of 1
    (3L, "quick brown the fox"),          // same word SET as 1 (jaccard 1.0)
    (4L, "the quick brown wolf"),         // 3/5 overlap with 1
    (5L, "completely different text here")
  ).toDF("doc_id", "text")

  /** Naive reference jaccard over distinct lowercase word sets. */
  private def naiveJaccard(a: String, b: String): Double = {
    val sa = a.toLowerCase.split("\\s+").toSet
    val sb = b.toLowerCase.split("\\s+").toSet
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("exactGroups groups identical payloads") {
    val got = Dedup.exactGroups(docs, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L))) // docs 1 and 2
    assert(got.size == 4)
  }

  test("ngramJaccardPairs(n=1) matches the naive all-pairs computation") {
    val texts = docs.as[(Long, String)].collect().toMap
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      j = naiveJaccard(texts(a), texts(b)) if j >= 0.5
    } yield (a, b, j)).toSet
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected)
  }

  test("prefix filtering loses nothing at a high threshold") {
    val texts = docs.as[(Long, String)].collect().toMap
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      j = naiveJaccard(texts(a), texts(b)) if j >= 0.99
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected && got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("3-gram shingles distinguish word order") {
    // docs 1 and 3 share the word set but almost no 3-gram sequence
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L))) // only the true exact dup survives
  }

  test("minhashLshPairs finds exact dups (jaccard 1 always survives banding)") {
    val got = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 1,
      numHashes = 16, bands = 4, verifyThreshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical sets share every band bucket -> guaranteed candidates
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhashLshPairsIncremental emits only cross-batch pairs with exact jaccard") {
    val existing = docs.filter(col("doc_id") <= 3)
    val incoming = Seq(
      (6L, "the quick brown fox"),         // dup of 1/2/3 (jaccard 1)
      (7L, "completely unrelated words")   // no partner
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairsIncremental(existing, incoming, "doc_id", "text",
        n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical sets share every band -> guaranteed candidates; only
    // existing x incoming pairs appear (never 1-2, never 6-7)
    assert(got == Set((1L, 6L, 1.0), (2L, 6L, 1.0), (3L, 6L, 1.0)))
  }

  test("persisted dedup index: probe is row-identical to the direct incremental path, ingest grows it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    val existing = docs.filter(col("doc_id") <= 3)
    val batch1 = Seq(
      (6L, "the quick brown fox"),         // dup of 1/2/3 (jaccard 1)
      (7L, "completely unrelated words")   // no partner
    ).toDF("doc_id", "text")
    Dedup.buildDedupIndex(existing, "doc_id", "text", dir,
      n = 1, numHashes = 16, bands = 4)
    val fromIndex = Dedup.minhashLshPairsAgainstIndex(spark, dir, batch1,
        "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.minhashLshPairsIncremental(existing, batch1, "doc_id", "text",
        n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIndex == direct)
    // ingest batch1; a later batch duplicating batch1's NEW text must now
    // hit the index — the corpus indexed on day 1 was never recomputed
    Dedup.dedupIndexIngest(batch1, "doc_id", "text", dir,
      n = 1, numHashes = 16, bands = 4)
    val batch2 = Seq((8L, "completely unrelated words")).toDF("doc_id", "text")
    val got2 = Dedup.minhashLshPairsAgainstIndex(spark, dir, batch2,
        "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got2 == Set((7L, 8L, 1.0)))
  }

  test("dedupIndexCompact drops duplicate rows, probe unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_cmp").toString
    Dedup.buildDedupIndex(docs.filter(col("doc_id") <= 3), "doc_id", "text", dir,
      n = 1, numHashes = 16, bands = 4)
    val batch = Seq((6L, "the quick brown fox")).toDF("doc_id", "text")
    // ingest a set ALREADY in the index twice: sets/bands gain duplicate
    // skey rows, members gains a duplicate (skey, id) row
    Dedup.dedupIndexIngest(batch, "doc_id", "text", dir, n = 1, numHashes = 16, bands = 4)
    Dedup.dedupIndexIngest(batch, "doc_id", "text", dir, n = 1, numHashes = 16, bands = 4)
    val setsBefore = spark.read.parquet(s"$dir/sets").count()
    val probeBatch = Seq((9L, "the quick brown fox")).toDF("doc_id", "text")
    def probe() = Dedup.minhashLshPairsAgainstIndex(spark, dir, probeBatch,
        "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probe()
    Dedup.dedupIndexCompact(spark, dir, targetPartitions = 2)
    val sets = spark.read.parquet(s"$dir/sets")
    assert(sets.count() < setsBefore)                       // duplicates gone
    assert(sets.select("skey").distinct().count() == sets.count())
    assert(probe() == before)                               // probe unchanged
    assert(before.map(_._1) == Set(1L, 2L, 3L, 6L))         // incl. ingested id
  }

  test("simhashPairs reports hamming 0 for identical token bags") {
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)))
  }

  test("hammingPairs64: factored quotient mass ties out to expanded pairs; budget governor refuses with the exact count") {
    // sigs with duplicate groups: {1,2,3} share sig A, {4,5} share B
    // (hamming(A,B)=1), 6 is far away
    val a = 0x00f0L; val b = 0x00f1L; val far = 0x7a3c9e1205b4ffL
    val sig = Seq((1L, a), (2L, a), (3L, a), (4L, b), (5L, b), (6L, far))
      .toDF("id", "sig")
    val expanded = Dedup.hammingPairs64(sig, maxHamming = 3)
    // expanded: C(3,2)=3 within A, C(2,2)=1 within B, 3*2 cross = 10 pairs
    assert(expanded.count() == 10)
    val factored = Dedup.hammingPairsFactored64(sig, maxHamming = 3)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(factored == Set((a, b, 1, 6L), (a, a, 0, 3L), (b, b, 0, 1L)))
    // sum of pair mass == expanded row count
    assert(factored.toSeq.map(_._4).sum == expanded.count())
    // governor: pre-flight candidate count is exact (every pair shares
    // all 4 chunks here -> sum over buckets counts each pair 4 times is
    // NOT the contract; candidates are per-bucket C(n,2) sums)
    val ex = intercept[graft.ext.Similarity.PairBudgetExceededException] {
      Dedup.hammingPairs64(sig, maxHamming = 3, budgetPairs = 3L)
        .write.format("noop").mode("overwrite").save()
    }
    // buckets: chunk0 {a,a,a}=3,{b,b}=1... exact candidate volume from
    // the 4 chunk projections of this fixture
    val chunks = (0 until 4).map { c =>
      Seq(a, a, a, b, b, far).groupBy(s => (s >> (c * 16)) & 0xFFFF)
        .values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    }.sum
    assert(ex.estimatedCandidates == chunks)
    // identical output under a sufficient budget
    assert(rows(Dedup.hammingPairs64(sig, 3, budgetPairs = chunks)) ==
      rows(expanded))
  }

  test("hammingPairsIncremental64 emits only cross-frame pairs; budget counts cross candidates") {
    val a = 0x0ff0L; val b = 0x0ff1L; val far = 0x5c19e3a4077d2L
    // existing {1:a, 2:a, 3:far}; incoming {10:a, 11:b, 12:far^high-bits}
    val ex = Seq((1L, a), (2L, a), (3L, far)).toDF("id", "sig")
    val inc = Seq((10L, a), (11L, b), (12L, far ^ 0xe000000000000000L)).toDF("id", "sig")
    val got = Dedup.hammingPairsIncremental64(ex, inc, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    // cross pairs only: within-existing (1,2) MUST NOT appear; 12 is 3
    // bits from far (top chunk), found via the 3 untouched chunks
    assert(got == Set((1L, 10L, 0), (2L, 10L, 0), (1L, 11L, 1), (2L, 11L, 1),
      (3L, 12L, 3)))
    // budget: cross-candidate volume only (within-frame mass is free)
    val exc = intercept[graft.ext.Similarity.PairBudgetExceededException] {
      Dedup.hammingPairsIncremental64(ex, inc, maxHamming = 3, budgetPairs = 1L)
        .write.format("noop").mode("overwrite").save()
    }
    assert(exc.estimatedCandidates > 1L)
    assert(rows(Dedup.hammingPairsIncremental64(ex, inc, 3,
      budgetPairs = exc.estimatedCandidates)) == got.map(t => Seq(t._1, t._2, t._3)))
  }

  test("persisted signature index: bucket layout, DPP probe, ingest grows it, compact dedupes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sigidx").toString
    // ids < 10 form a near-dup cluster (pairwise hamming 2: base with one
    // distinct bit flipped each); the rest are hash-spread
    val base = 0x123456789abcdef0L
    val sig = spark.range(0, 200).select(col("id"),
      when(col("id") < 10,
        expr(s"${base}L ^ shiftleft(1L, cast(id as int))"))
        .otherwise(xxhash64(col("id"))).as("sig"))
    val even = sig.filter(pmod(col("id"), lit(2)) === 0)
    val odd = sig.filter(pmod(col("id"), lit(2)) === 1)
    Dedup.buildSignatureIndex(even, dir)
    // the layout IS the blocking: hive dirs chunk=0..3, kb buckets inside
    val chunkDirs = new java.io.File(s"$dir/sigs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("chunk="))
    assert(chunkDirs.length == 4)
    assert(chunkDirs.forall(_.listFiles().exists(_.getName.startsWith("kb="))))
    val fromIndex = Dedup.signatureIndexProbe(spark, dir, odd)
    val direct = Dedup.hammingPairsIncremental64(even, odd)
    assert(rows(fromIndex) == rows(direct))
    // the 5x5 cross cluster is found through the parquet round-trip
    assert(fromIndex.count() >= 25)
    // a probed batch must NOT read every bucket: dynamic pruning on the
    // partition pair (the IVF-index assertion, third family)
    val plan = fromIndex.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected dynamic partition pruning in:\n$plan")
    // ingest: rebuild from a quarter, grow to all evens, probe unchanged
    val dir2 = java.nio.file.Files.createTempDirectory("graft_sigidx2").toString
    Dedup.buildSignatureIndex(sig.filter(pmod(col("id"), lit(4)) === 0), dir2)
    Dedup.signatureIndexIngest(spark, dir2, sig.filter(pmod(col("id"), lit(4)) === 2))
    assert(rows(Dedup.signatureIndexProbe(spark, dir2, odd)) == rows(direct))
    // replayed ingest appends duplicate rows (to the delta, read with the
    // base); compact removes them and the probe is row-identical
    Dedup.signatureIndexIngest(spark, dir2, sig.filter(pmod(col("id"), lit(4)) === 2))
    val distinctRows = Dedup.readSigs(spark, dir2).distinct().count()
    assert(Dedup.readSigs(spark, dir2).count() > distinctRows)
    Dedup.signatureIndexCompact(spark, dir2)
    assert(Dedup.readSigs(spark, dir2).count() == distinctRows)
    assert(spark.read.parquet(s"$dir2/sigs").count() == distinctRows)
    assert(rows(Dedup.signatureIndexProbe(spark, dir2, odd)) == rows(direct))
  }

  test("wide signature blocking: ball probe equals the narrow recompute; layout auto-selects by count") {
    // same fixture as the narrow test: a hamming-2 cluster + hash spread —
    // crucially covering pairs whose differing bits straddle BOTH 32-bit
    // halves (id 0 flips bit 0, id 33.. hash-spread; the <10 cluster flips
    // bits 0..9, all in the low half; add a high-bit twin pair)
    val base = 0x123456789abcdef0L
    val sig = spark.range(0, 200).select(col("id"),
      when(col("id") < 10,
        expr(s"${base}L ^ shiftleft(1L, cast(id as int))"))
        .when(col("id") === 190, lit(base ^ (1L << 3) ^ (1L << 40))) // 1 bit per half
        .when(col("id") === 191, lit(base ^ (1L << 50) ^ (1L << 60) ^ (1L << 2))) // 2 high + 1 low
        .otherwise(xxhash64(col("id"))).as("sig")).localCheckpoint()
    val even = sig.filter(pmod(col("id"), lit(2)) === 0)
    val odd = sig.filter(pmod(col("id"), lit(2)) === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_sigwide").toString
    Dedup.buildSignatureIndexWithLayout(even, dir, wide = true, kbBits = 7)
    // layout: 2 block dirs, kb buckets inside
    val chunkDirs = new java.io.File(s"$dir/sigs").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("chunk="))
    assert(chunkDirs.map(_.getName).sorted.sameElements(Array("chunk=0", "chunk=1")))
    val direct = Dedup.hammingPairsIncremental64(even, odd)
    assert(rows(Dedup.signatureIndexProbe(spark, dir, odd)) == rows(direct))
    // the straddling pairs are found (190/191 pair with cluster evens)
    assert(Dedup.signatureIndexProbe(spark, dir, odd)
      .filter(col("incoming_id") >= 190 || col("existing_id") >= 190)
      .count() > 0)
    // ingest respects the stored layout; replay + compact identity
    Dedup.signatureIndexIngest(spark, dir, odd.filter(col("id") < 100))
    Dedup.signatureIndexIngest(spark, dir, odd.filter(col("id") < 100)) // replay
    val probe2 = odd.filter(col("id") >= 100)
    val grown = Dedup.hammingPairsIncremental64(
      even.unionByName(odd.filter(col("id") < 100)), probe2)
    assert(rows(Dedup.signatureIndexProbe(spark, dir, probe2)) == rows(grown))
    Dedup.signatureIndexCompact(spark, dir)
    assert(rows(Dedup.signatureIndexProbe(spark, dir, probe2)) == rows(grown))
    // auto-selection: a small corpus builds NARROW (4 chunk dirs, meta says so)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_signarrow").toString
    Dedup.buildSignatureIndex(even, dir2)
    assert(spark.read.parquet(s"$dir2/sigmeta").head().getBoolean(0) == false)
    assert(new java.io.File(s"$dir2/sigs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("chunk=")) == 4)
  }

  test("randomized: every hamming-family form equals brute force at every maxHamming") {
    val rnd = new scala.util.Random(11)
    // 60 sigs: spread bases, exact dups, and near-dups within 1-3 flipped bits
    val bases = Array.fill(20)(rnd.nextLong())
    val sigsSeq = (0 until 60).map { i =>
      val b = bases(i % 20)
      val s = (i / 20) match {
        case 0 => b                                   // original
        case 1 => if (i % 3 == 0) b else rnd.nextLong() // some exact dups
        case _ =>                                     // flip 1-3 random bits
          (0 until 1 + rnd.nextInt(3)).foldLeft(b)((x, _) => x ^ (1L << rnd.nextInt(64)))
      }
      (i.toLong, s)
    }
    val sig = sigsSeq.toDF("id", "sig")
    def brute(maxH: Int): Set[Seq[Any]] =
      (for {
        (ia, sa) <- sigsSeq; (ib, sb) <- sigsSeq if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield Seq(ia, ib, h)).toSet
    for (maxH <- 0 to 3) {
      val blocked = rows(Dedup.hammingPairs64(sig, maxH))
      assert(blocked == brute(maxH), s"blocked != brute at maxHamming=$maxH")
      // factored: pair mass over the quotient ties to the expanded count
      val mass = Dedup.hammingPairsFactored64(sig, maxH)
        .agg(sum(col("n_pairs"))).head().getLong(0)
      assert(mass == brute(maxH).size, s"factored mass at maxHamming=$maxH")
      // incremental: exactly the cross subset of brute pairs
      val ex = sig.filter(col("id") < 30)
      val inc = sig.filter(col("id") >= 30)
      val cross = rows(Dedup.hammingPairsIncremental64(ex, inc, maxH))
      val bruteCross = (for {
        (ia, sa) <- sigsSeq if ia < 30; (ib, sb) <- sigsSeq if ib >= 30
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield Seq(ia, ib, h)).toSet
      assert(cross == bruteCross, s"incremental != brute cross at maxHamming=$maxH")
    }
  }

  test("randomized: prefix and counted paths both equal the naive result") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val corpus = (1L to 30L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val texts = corpus.toMap
    for (t <- Seq(0.2, 0.6, 0.9)) { // exercises counted (0.2) and prefix paths
      val expected = (for {
        a <- texts.keys; b <- texts.keys if a < b
        j = naiveJaccard(texts(a), texts(b)) if j >= t
      } yield (a, b, j)).toSet
      val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 1, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"threshold $t")
    }
  }

  test("ngramJaccardPairs budget guard: refuses above budget, identical under it, on every path") {
    // the docs fixture has a tiny vocabulary, so the plain call dispatches
    // to the bitmask path; the poison doc (>64 unique tokens) busts the
    // universe and forces the general paths — 0.95 partitioned, 0.8
    // prefix, 0.3 counted. Each must refuse at budget 1 (the fixture has
    // candidates on all paths) and be bit-identical to the ungoverned
    // call under an ample budget.
    val poison = (999L, (1 to 70).map(i => s"rareword$i").mkString(" "))
    val busted = (docs.as[(Long, String)].collect().toSeq :+ poison)
      .toDF("doc_id", "text")
    // partitioned path (t >= 0.9) candidates need NEAR-identical (not
    // identical — identical sets collapse to one rep) large sets: 40
    // tokens vs 39-of-40 + one swap leaves most residue classes with
    // identical content, so candidate groups exist to count
    val neardup = Seq(
      (1L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (2L, ((1 to 39).map(i => s"tok$i") :+ "other").mkString(" ")),
      (3L, poison._2)).toDF("doc_id", "text")
    // prefix path (0.8) also needs shared PREFIX shingles: busted's 4-token
    // sets index exactly 1 rarest shingle each (all distinct), so its
    // candidate volume is genuinely 0 — neardup's 9-shingle prefixes overlap
    for ((corpus, t) <- Seq((docs, 0.5), (neardup, 0.95), (neardup, 0.8), (busted, 0.3))) {
      val ex = intercept[graft.ext.Similarity.PairBudgetExceededException] {
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 1, t, budgetPairs = 1L)
          .collect()
      }
      assert(ex.budgetPairs == 1L && ex.estimatedCandidates > 1L, s"threshold $t")
      val governed = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 1, t,
        budgetPairs = 1000000L).as[(Long, Long, Double)].collect().toSet
      val plain = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 1, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(governed == plain, s"threshold $t")
    }
  }

  test("bitmask (tiny-universe) and general Jaccard paths agree exactly") {
    // The tiny-vocab corpora above all dispatch to the 64-bit-mask path.
    // Busting the universe with ONE extra document of >64 unique tokens
    // forces the general (prefix/counted/partitioned) paths WITHOUT
    // changing any other document's shingle set — so the pair sets over
    // the original ids must be identical (the poison doc pairs with
    // nothing: its tokens are unique).
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val corpus = (1L to 30L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val poison = (999L, (1 to 70).map(i => s"rareword$i").mkString(" "))
    val tiny = corpus.toDF("doc_id", "text")
    val busted = (corpus :+ poison).toDF("doc_id", "text")
    for (t <- Seq(0.2, 0.6, 0.95)) {
      val a = Dedup.ngramJaccardPairs(tiny, "doc_id", "text", 1, t)
        .as[(Long, Long, Double)].collect().toSet
      val b = Dedup.ngramJaccardPairs(busted, "doc_id", "text", 1, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(a == b, s"threshold $t")
    }
  }

  test("tiny-universe BNLJ and banded LSH paths agree exactly") {
    // Same poison-document trick for minhashLshPairs: signatures and band
    // buckets depend only on a document's own set, so the banded general
    // path over the busted corpus must produce exactly the tiny-universe
    // path's pairs (the poison doc shares no band content with anything
    // at verify >= 0.5).
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a1", "b2", "c3", "d4", "e5", "f6", "g7", "h8", "i9", "j10")
    val corpus = (1L to 40L).map { id =>
      (id, Seq.fill(4 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val poison = (999L, (1 to 70).map(i => s"unique$i").mkString(" "))
    val tiny = corpus.toDF("doc_id", "text")
    val busted = (corpus :+ poison).toDF("doc_id", "text")
    val a = Dedup.minhashLshPairs(tiny, "doc_id", "text", n = 1,
      numHashes = 16, bands = 4, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val b = Dedup.minhashLshPairs(busted, "doc_id", "text", n = 1,
      numHashes = 16, bands = 4, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("connectedComponents propagates labels across chains, keeps singletons") {
    val nodes = (1L to 6L).toDF("id")
    // chain 1-2-3, pair 4-5, isolated 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("connectedComponents driver dispatch equals the distributed loop") {
    // the GraphSpec/BpeSpec route-equality pattern: with Long ids and a
    // graph under the default cap, every normal call takes the driver
    // union-find — force the distributed HashToMin loop with
    // spark.graft.cc.driverEdgeRows=0 and compare (id, rep) EXACTLY.
    // The fixture exercises the contract's corners: a long chain (hub
    // aggregation + pointer doubling), an isolated node (rep = id), a
    // hub star, and edges whose endpoints are NOT in the node set
    // (induced-subgraph semantics — they must relay nothing).
    val nodes = ((1L to 30L) ++ Seq(100L, 200L, 201L, 202L)).toDF("id")
    val pairs = ((1L until 30L).map(i => (i, i + 1)) ++
      Seq((200L, 201L), (200L, 202L),
        (50L, 51L),   // both endpoints outside the node set
        (100L, 999L)) // one endpoint outside: 100 stays its own rep
      ).toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.cc.driverEdgeRows", "0")
    val dist =
      try Dedup.connectedComponents(nodes, "id", pairs)
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.cc.driverEdgeRows")
    assert(driver === dist)
    assert(driver(100L) === 100L && driver(200L) === 200L &&
      driver(30L) === 1L)
    // cap boundary: the dispatch is <= — at exactly the symmetric edge-row
    // count the driver route still runs; one below it the distributed loop
    // runs; both must emit the identical fixpoint
    val symRows = 2 * (29 + 4) // pairs above, symmetrized
    for (cap <- Seq(symRows, symRows - 1)) {
      spark.conf.set("spark.graft.cc.driverEdgeRows", cap.toString)
      val got =
        try Dedup.connectedComponents(nodes, "id", pairs)
          .as[(Long, Long)].collect().toMap
        finally spark.conf.unset("spark.graft.cc.driverEdgeRows")
      assert(got === driver, s"cap=$cap diverged")
    }
  }

  test("connectedComponents: duplicate node ids give the same rows on both routes") {
    // touched ids 3 and 42 and isolated id 50 appear more than once in
    // the node frame: the driver route must not leave an earlier copy of
    // a touched id as a singleton labelled with itself
    val nodes = ((1L to 10L) ++ Seq(3L, 3L, 7L, 42L, 42L, 50L, 50L)).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (42L, 99L)).toDF("id_a", "id_b")
    def labels() = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toSeq.sorted
    val driver = labels()
    spark.conf.set("spark.graft.cc.driverEdgeRows", "0")
    val dist = try labels() finally spark.conf.unset("spark.graft.cc.driverEdgeRows")
    assert(driver === dist)
    assert(driver.count(_ == (3L, 1L)) == 1 && driver.count(_ == (50L, 50L)) == 2)
  }

  test("connectedComponents converges on a chain far longer than maxIter") {
    // a 60-node path has diameter 59: plain neighbor-min propagation moves
    // the min label one hop per round and would still be intermediate at
    // maxIter=20; pointer doubling contracts label paths exponentially, so
    // the exact fixpoint (every rep == 1) must be reached well inside the
    // default budget. Worst case for a path: labels at round r reach
    // distance ~2^r, so 60 nodes need ~7 rounds.
    val n = 60L
    val nodes = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to n).map(_ -> 1L).toMap)
  }

  test("hashedShingles is sorted and distinct") {
    val arr = docs.select(Dedup.hashedShingles(col("text"), 1).as("h"))
      .as[Seq[Long]].collect()
    arr.foreach { a =>
      assert(a == a.sorted && a.distinct.size == a.size)
    }
  }

  test("pairRecall on an empty exact set is vacuous 1.0, not null") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val some = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = graft.ext.Recall.pairRecall(empty, some).select("recall").head().getDouble(0)
    assert(r == 1.0)
  }

  test("editDistancePairs: thresholded distances within blocks, cross-block pairs excluded") {
    import org.apache.spark.sql.functions.{split, col}
    val df = Seq(
      (1L, "red shiny ball"),
      (2L, "red shiny bell"),   // dist 1 from 1, same block "red"
      (3L, "red shiny belt"),   // dist 1 from 2, dist 2 from 1
      (4L, "red plain bowl"),   // dist > 2 from all "red" rows
      (5L, "blue shiny ball")   // other block: never paired with 1 despite dist 2
    ).toDF("id", "name")
    val got = Dedup.editDistancePairs(df, "id", "name",
        maxDist = 2, blockCol = split(col("name"), " ").getItem(0))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got == Map((1L, 2L) -> 1, (2L, 3L) -> 1, (1L, 3L) -> 2))
    // kept distances are TRUE distances (threshold form returns -1 above
    // the bound, which the filter drops; survivors are exact)
    assert(got((1L, 3L)) == 2)
  }

  test("containmentPairs finds the short-doc-inside-long-doc case Jaccard misses") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),                                     // A
      (2L, "alpha beta gamma delta and much more trailing text here now"), // contains A
      (3L, "totally unrelated words only")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // directed: 1 is inside 2; 2 is NOT inside 1
    assert(got == Set((1L, 2L)))
    // the same pair's Jaccard is far below 0.8 — containment is the only
    // lens that catches it
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8).count()
    assert(j == 0)
  }

  test("new-op edges: empty text excluded from containment; ingest into empty corpus accepts all canonicals") {
    val withEmpty = Seq((1L, ""), (2L, "alpha beta gamma delta"), (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // doc 1 has no 3-gram shingles -> never paired, no division by zero
    val pairs = Dedup.containmentPairs(withEmpty, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((2L, 3L), (3L, 2L)))
    // empty existing corpus: every incoming canonical accepted
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Dedup.dedupIngest(none, withEmpty, "doc_id", "text").count()
    assert(got == 2) // one canonical per distinct text: "" and the alpha doc
  }

  test("dedupIngest accepts only content new to the corpus, one canonical copy per hash") {
    val existing = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha"),   // already stored -> rejected
      (11L, "gamma"), (12L, "gamma"), // batch-internal dup -> min id only
      (13L, "delta")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupIngest(existing, incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 13L))
  }

  test("editDistancePairsAuto widens the prefix on a skewed block and matches the explicit width") {
    import org.apache.spark.sql.functions.{concat_ws, slice, split, col}
    // Every row shares the first word: a width-1 blocking has ONE block of
    // n rows (quadratic residue n·(n−1)/2 = 4950 comparisons), while the
    // second word splits it 10 ways (residue ~10·(10·9/2) = 450). With a
    // budget between the two, the probe must reject width 1 and pick 2.
    val df = (0 until 100).map(i => (i.toLong, s"alpha w${i % 10} v$i"))
      .toDF("id", "name")
    val auto = Dedup.editDistancePairsAuto(df, "id", "name",
      maxDist = 2, minWords = 1, maxWords = 3, budgetComparisons = 1000L)
    val explicit2 = Dedup.editDistancePairs(df, "id", "name",
      maxDist = 2, blockCol = concat_ws(" ", slice(split(col("name"), " "), 1, 2)))
    assert(rows(auto) == rows(explicit2))
    // under a budget that fits width 1, auto must take the narrowest (best
    // recall) width — the full one-block pair set, a superset of width 2's
    val auto1 = Dedup.editDistancePairsAuto(df, "id", "name",
      maxDist = 2, minWords = 1, maxWords = 3, budgetComparisons = 100000L)
    val explicit1 = Dedup.editDistancePairs(df, "id", "name",
      maxDist = 2, blockCol = split(col("name"), " ").getItem(0))
    assert(rows(auto1) == rows(explicit1))
  }

  test("measured pair recall: MinHash banding finds >= 0.95 of exact Jaccard pairs") {
    // 64 hashes / 16 bands has ~0.9998 theoretical recall at j=0.8; on the
    // sf0.01 corpus the measured value is 1.0. Deterministic — a drop below
    // the floor means the banding or the size prefilter broke.
    val corpus = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val row = graft.ext.Recall.pairRecall(
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 1, 0.8),
      Dedup.minhashLshPairs(corpus, "doc_id", "text", 1, 64, 16, 0.8))
      .select("n_exact", "recall").head()
    // a broken exact generator would make recall vacuously 1.0 — require a
    // real denominator so the floor stays meaningful
    assert(row.getLong(0) > 0, "exact pair generator returned no pairs")
    val r = row.getDouble(1)
    assert(r >= 0.95, s"MinHash pair recall regressed: $r")
  }

  test("minhashSourceOverlap equals the matrix counted from expanded pairs") {
    // mixed regimes: identical sets in the SAME source (diagonal C(n,2)),
    // identical sets ACROSS sources, a near-dup cross pair, a singleton
    val d = Seq(
      (1L, "the quick brown fox", "sA"),
      (2L, "the quick brown fox", "sA"),   // same set, same source
      (3L, "quick brown the fox", "sB"),   // same set, other source
      (4L, "the quick brown wolf", "sB"),  // near-dup at 0.6: excluded at 0.8? jaccard 3/5
      (5L, "the quick brown fox jumps", "sC"), // 4/5 = 0.8 vs set{1,2,3}
      (6L, "unrelated words entirely", "sC")
    ).toDF("doc_id", "text", "source")
    val factored = Dedup.minhashSourceOverlap(d, "doc_id", "text", "source", 1, 64, 16, 0.8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val src = d.select(col("doc_id"), col("source"))
    val expanded = Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8)
      .join(src.withColumnsRenamed(Map("doc_id" -> "id_a", "source" -> "src_a")), Seq("id_a"))
      .join(src.withColumnsRenamed(Map("doc_id" -> "id_b", "source" -> "src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("sa"),
        greatest(col("src_a"), col("src_b")).as("sb"))
      .groupBy("sa", "sb").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(factored == expanded, s"factored=$factored expanded=$expanded")
    // the known cells: {1,2,3} mutual (sA-sA diag from 1-2, sA-sB cross 1-3
    // and 2-3) plus 5 at cosine... jaccard 4/5 = 0.8 with each of 1,2,3
    assert(factored(("sA", "sA")) == 1L)
    assert(factored(("sA", "sB")) == 2L)
    assert(factored(("sA", "sC")) == 2L && factored(("sB", "sC")) == 1L)
    assert(!factored.contains(("sC", "sC")))
  }

  test("leakageFreeSplit keeps every near-dup cluster whole and is deterministic") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.8)
    val split = Dedup.leakageFreeSplit(docs, "doc_id", pairs,
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    val got = split.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.size == 5)
    // docs 1-4 form one cluster at 0.8 (1-2-3 identical sets, 4 at 0.75?
    // naive jaccard(1,4) = 3/5 = 0.6 -> 4 is its own cluster); same rep
    // => same split, every id present exactly once
    assert(got(1L)._1 == got(2L)._1 && got(2L)._1 == got(3L)._1)
    assert(got(1L)._2 == got(2L)._2 && got(2L)._2 == got(3L)._2)
    // no pair crosses splits (the invariant, checked directly)
    val bySplit = split.select(col("doc_id"), col("split"))
    val leaks = pairs
      .join(bySplit.withColumnsRenamed(Map("doc_id" -> "id_a", "split" -> "sa")), Seq("id_a"))
      .join(bySplit.withColumnsRenamed(Map("doc_id" -> "id_b", "split" -> "sb")), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(leaks == 0)
    // deterministic across runs
    val again = Dedup.leakageFreeSplit(docs, "doc_id", pairs,
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got == again)
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      Dedup.leakageFreeSplit(docs, "doc_id", pairs, Seq(("a", 0.5), ("b", 0.3)))
    }
  }

  test("minhashDegreeHistogram equals the histogram counted from expanded pairs") {
    // mixed regimes: a 3-member identical set spanning sources, a cross
    // near-dup to it, a neighborless singleton (degree 0), and an
    // empty-shingle doc (also degree 0)
    val d = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),        // identical set with 1
      (3L, "quick brown the fox"),        // identical set with 1, 2
      (4L, "the quick brown fox jumps"),  // jaccard 4/5 = 0.8 vs {1,2,3}
      (5L, "unrelated words entirely"),   // degree 0
      (6L, "   ")                         // no shingles -> degree 0
    ).toDF("doc_id", "text")
    val factored = Dedup.minhashDegreeHistogram(d, "doc_id", "text", 1, 64, 16, 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8)
    val deg = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    val expanded = deg.groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .unionByName(d.join(deg, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs")).select(lit(0L).as("degree"), col("n_docs")))
      .filter(col("n_docs") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(factored == expanded, s"factored=$factored expanded=$expanded")
    // known degrees: docs 1-4 mutually near-dup -> degree 3 each; 5 and 6
    // have none
    assert(factored == Map(3L -> 4L, 0L -> 2L))
  }

  test("signatureComponents equals expanded hammingPairs64 + connectedComponents, reps are global minima") {
    // classes {10,3,7} on sig a, {4,5} on b with hamming(a,b)=1 (one
    // cluster of 5), and 6 isolated on a far signature
    val a = 0x00f0L; val b = 0x00f1L; val far = 0x7a3c9e1205b4ffL
    val sig = Seq((10L, a), (3L, a), (7L, a), (4L, b), (5L, b), (6L, far))
      .toDF("id", "sig")
    val expanded = Dedup.connectedComponents(
      sig.select("id"), "id", Dedup.hammingPairs64(sig, maxHamming = 3))
    val quotient = Dedup.signatureComponents(sig, maxHamming = 3)
    assert(rows(quotient) == rows(expanded))
    // the a∪b cluster's rep is the GLOBAL min member (3, which is not
    // the min of its own class's pair list alone); isolated keeps itself
    assert(rows(quotient) == Set[Seq[Any]](
      Seq(10L, 3L), Seq(3L, 3L), Seq(7L, 3L), Seq(4L, 3L), Seq(5L, 3L),
      Seq(6L, 6L)))
  }

  test("hammingPairs64 budget prices the candidate STREAM: a multi-chunk pair counts once per shared chunk") {
    // the two sigs differ ONLY in chunk 0 (low 16 bits) -> they share
    // chunks 1, 2, 3, so the ONE distinct qualifying pair rides the join
    // stream three times and the pre-flight counts all three (the safe,
    // stream-priced direction — refusal can fire up to 4x before the
    // distinct-pair volume alone would cross the budget)
    val sig = Seq((1L, 0x1111222233330000L), (2L, 0x1111222233330001L))
      .toDF("id", "sig")
    val ex = intercept[graft.ext.Similarity.PairBudgetExceededException] {
      Dedup.hammingPairs64(sig, maxHamming = 3, budgetPairs = 2L)
    }
    assert(ex.estimatedCandidates == 3L, "1 pair x 3 shared chunks")
    assert(ex.getMessage.contains("STREAM"))
    // the distinct output is still the single pair once the budget admits
    // the 3-candidate stream
    assert(rows(Dedup.hammingPairs64(sig, 3, budgetPairs = 3L)) ==
      Set(Seq[Any](1L, 2L, 1)))
  }

  test("dedup-index probe auto-dispatch: bulk batches route to recompute, both regimes row-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_disp").toString
    val corpus = docs.filter(col("doc_id") <= 4)
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir,
      n = 1, numHashes = 16, bands = 4)
    val batch = Seq((10L, "the quick brown fox"), (11L, "brand new content"))
      .toDF("doc_id", "text")
    val direct = rows(Dedup.minhashLshPairsIncremental(corpus, batch,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.7))
    // no corpus passed: plain probe (the streaming-sink path, no dispatch)
    val probe = rows(Dedup.minhashLshPairsAgainstIndex(spark, dir, batch,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.7))
    // ratio 0 forces the BULK route (every non-empty batch is "bulk")
    val viaBulk = rows(Dedup.minhashLshPairsAgainstIndex(spark, dir, batch,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.7,
      corpusForBulk = Some(corpus), bulkDispatchRatio = 0.0))
    // huge ratio forces the PROBE route with dispatch armed
    val viaProbe = rows(Dedup.minhashLshPairsAgainstIndex(spark, dir, batch,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4, verifyThreshold = 0.7,
      corpusForBulk = Some(corpus), bulkDispatchRatio = 1e9))
    assert(direct.nonEmpty && direct == probe && direct == viaBulk &&
      direct == viaProbe)
  }

  test("undispatched bulk probe warns once on the backoff schedule; crawl probes stay silent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_warn").toString
    Dedup.buildDedupIndex(docs.filter(col("doc_id") <= 4), "doc_id", "text", dir,
      n = 1, numHashes = 16, bands = 4)
    // a batch of 2 vs 4 indexed docs is far above the 2% bulk ratio and
    // NO corpusForBulk is passed — the misuse the warning exists for
    val bulk = Seq((10L, "the quick brown fox"), (11L, "brand new content"))
      .toDF("doc_id", "text")
    Dedup.minhashLshPairsAgainstIndex(spark, dir, bulk,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4).count()
    assert(Dedup.bulkWarned.contains(dir), "first undispatched bulk probe must warn")
    assert(Dedup.probeCallCounts.get(dir).get() == 1)
    // further probes never re-warn (the guard) and keep counting for the
    // power-of-two backoff, so the crawl path pays no per-batch job
    Dedup.minhashLshPairsAgainstIndex(spark, dir, bulk,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4).count()
    assert(Dedup.probeCallCounts.get(dir).get() == 2)

    // a crawl-sized probe against a separate index stays silent: the
    // pre-flight runs (call 1 is on the schedule) but the ratio is small
    val dir2 = java.nio.file.Files.createTempDirectory("graft_idx_warn2").toString
    val big = (1L to 200L).map(i => (i, s"document number $i with words"))
      .toDF("doc_id", "text")
    Dedup.buildDedupIndex(big, "doc_id", "text", dir2,
      n = 1, numHashes = 16, bands = 4)
    val crawl = Seq((900L, "one tiny crawl doc")).toDF("doc_id", "text")
    Dedup.minhashLshPairsAgainstIndex(spark, dir2, crawl,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4).count()
    assert(!Dedup.bulkWarned.contains(dir2), "crawl-cadence probe must not warn")
    // dispatched calls bypass the misuse guard entirely
    val dir3 = java.nio.file.Files.createTempDirectory("graft_idx_warn3").toString
    Dedup.buildDedupIndex(docs.filter(col("doc_id") <= 4), "doc_id", "text", dir3,
      n = 1, numHashes = 16, bands = 4)
    Dedup.minhashLshPairsAgainstIndex(spark, dir3, bulk,
      "doc_id", "text", n = 1, numHashes = 16, bands = 4,
      corpusForBulk = Some(docs.filter(col("doc_id") <= 4))).count()
    assert(!Dedup.bulkWarned.contains(dir3) &&
      !Dedup.probeCallCounts.containsKey(dir3))
  }
}
