package graft

import org.apache.spark.sql.functions._
import graft.text.TextFunctions
import graft.dedup.NearDup
import graft.quality.QualityChecks

class TextAndDedupSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): org.apache.spark.sql.Row =
    Seq("x").toDF("dummy").select(c).head()

  test("tokens splits on whitespace runs; empty text -> 0 tokens") {
    val df = Seq("  a  b\tc ", "", "   ").toDF("t")
      .select(TextFunctions.tokenCount(col("t")).as("n"))
    assert(df.as[Int].collect().toSeq === Seq(3, 0, 0))
  }

  test("shingles builds word n-grams; short docs -> empty") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.shingles(col("t"), 3).as("s"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) === Seq("a b c", "b c d"))
    assert(rows(1) === Seq.empty)
  }

  test("langId picks marker-majority language, unknown when no markers") {
    val df = Seq("the cat and the dog", "der hund und die katze", "zzz qqq")
      .toDF("t").select(TextFunctions.langId(col("t")).as("l"))
    assert(df.as[String].collect().toSeq === Seq("en", "de", "unknown"))
  }

  test("fingerprintMd5 normalizes whitespace and case") {
    val df = Seq(("A  b", "a b")).toDF("x", "y")
    val r = df.select(
      (TextFunctions.fingerprintMd5(col("x")) ===
        TextFunctions.fingerprintMd5(col("y"))).as("eq")).as[Boolean].head()
    assert(r)
  }

  test("qualityScore in [0,1] and deterministic") {
    val df = Seq("the quick brown fox jumps over the lazy dog.").toDF("t")
      .select(TextFunctions.qualityScore(col("t")).as("q"))
    val q = df.as[Double].head()
    assert(q >= 0.0 && q <= 1.0)
  }

  test("minhash signature has NumHashes entries and detects identical docs") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val sig = df.select(col("doc_id"), NearDup.minHashSignature(col("text")).as("s"))
    val rows = sig.orderBy("doc_id").as[(Long, Seq[Long])].collect()
    assert(rows(0)._2.length === NearDup.NumHashes)
    assert(rows(0)._2 === rows(1)._2) // identical docs -> identical signatures
    assert(rows(0)._2 !== rows(2)._2)
  }

  test("minHashPairs finds exact dup pair with jaccard 1.0") {
    val df = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"), (3L, "p q r s t u v"))
      .toDF("doc_id", "text")
    val pairs = NearDup.minHashPairs(df, "doc_id", "text").collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getDouble(2) === 1.0)
  }

  test("simHash: identical docs equal, disjoint docs differ") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "zz yy xx ww"))
      .toDF("doc_id", "text")
    val h = df.select(NearDup.simHash(col("text")).as("h")).as[Long].collect()
    assert(h(0) === h(1))
    assert(h(0) !== h(2))
  }

  test("jaccard distinct-set semantics") {
    val df = Seq(1).toDF("d").select(
      NearDup.jaccard(array(lit("a"), lit("a"), lit("b")), array(lit("b"), lit("c"))).as("j"))
    assert(math.abs(df.as[Double].head() - 1.0 / 3.0) < 1e-9)
  }

  test("quality checks find seeded violations") {
    val df = Seq((Some(1), " padded", 5.0, "a@b.com"),
      (None, "clean", -1.0, "bad-email")).toDF("id", "s", "v", "email")
    assert(QualityChecks.nullPks(df, Seq("id")).count() === 1)
    assert(QualityChecks.unwantedSpaces(df, Seq("s")).count() === 1)
    assert(QualityChecks.nonPositive(df, Seq("v")).count() === 1)
    assert(QualityChecks.invalidFormat(df, "email").count() === 1)
  }

  test("orphans finds fact rows without dims") {
    val fact = Seq((1, 10), (2, 99)).toDF("id", "fk")
    val dim = Seq(10).toDF("pk")
    val o = QualityChecks.orphans(fact, dim, "fk", "pk")
    assert(o.select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("connectedComponents labels chains, stars and singletons-by-absence") {
    // chain 1-2-3-4, star 10-{11,12,13}, pair 20-21; 99 has no edges
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find path
    val small = graft.dedup.Clusters.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(small === expected)
    // distributed min-label-propagation path
    val dist = graft.dedup.Clusters.connectedComponentsDistributed(edges)
      .as[(Long, Long)].collect().toMap
    assert(dist === expected)
  }

  test("ngram jaccard df-cutoff: no cutoff is exact, cutoff=1 drops shared pairs") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), // near-dups
      (3L, "x y z w v u")
    ).toDF("doc_id", "text")
    val exact = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3,
      maxDocFreq = Some(Long.MaxValue)).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(exact === Set((1L, 2L)))
    assert(uncapped === exact)
    // every shared shingle has df=2; cutting df>1 removes all evidence
    val capped = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3,
      maxDocFreq = Some(1L))
    assert(capped.count() === 0)
  }

  test("normalize_text folds accents, ligatures, case, and whitespace") {
    def norm(s: String): String =
      one(TextFunctions.normalizeText(lit(s))).getString(0)
    assert(norm("Café  NAÏVE\t ﬁle") === "cafe naive file")
    assert(norm("  x  ") === "x")
    assert(norm("") === "")
    // idempotent: normalizing twice changes nothing
    val once = norm("Ça Va; ＡBC")
    assert(norm(once) === once)
    assert(once === "ca va; abc") // fullwidth A folds via NFKC
    // null-safe + SQL surface
    GraftFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_normalize_text('Café ﬁle') AS n")
      .head().getString(0)
    assert(viaSql === "cafe file")
    val df = Seq(Option.empty[String], Some("A")).toDF("t")
      .select(TextFunctions.normalizeText(col("t")).as("n"))
    assert(df.collect().map(r => Option(r.getString(0))).toSet
      === Set(None, Some("a")))
  }

  test("prefix-filtered (PPJoin) jaccard equals the full inverted index") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val full = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = NearDup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix === full)
    assert(full.nonEmpty)
    // lower thresholds stress the prefix-length formula
    val full3 = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .count()
    val prefix3 = NearDup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.3)
      .count()
    assert(prefix3 === full3)
    NearDup.unpersistAll()
  }

  test("streaming incremental near-dup dedup against a standing corpus") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_incdedup").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // batch 1: two distinct docs; batch 2: one fresh doc + one
    // near-dup of batch 1's doc 1 (same text, one word changed)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/b1.json"),
      s"""[{"doc_id": 1, "text": "$base"},
         | {"doc_id": 2, "text": "completely different content about spark shuffles and joins"}]""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/in/b2.json"),
      s"""[{"doc_id": 3, "text": "${base.replace("dog", "cat")}"},
         | {"doc_id": 4, "text": "yet another unrelated document mentioning catalyst expressions"}]""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    val standing = s"$dir/standing"
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("multiLine", "true")
      .json(s"$dir/in")
    // per micro-batch: drop arrivals near-dup to the STANDING corpus
    // (banded new×standing join only), append survivors — the
    // streaming composition of minHashPairsIncremental + a Delta
    // table. Batches arrive in file order (AvailableNow +
    // maxFilesPerTrigger=1).
    val q = stream.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cur = if (new java.io.File(s"$standing/_delta_log").exists())
          graft.sources.DeltaLog.read(spark, standing)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        val dupes = NearDup.minHashPairsIncremental(
          batch, cur, "doc_id", "text", threshold = 0.5)
          .select(col("id_a").as("doc_id")).distinct()
        val survivors = batch.join(broadcast(dupes), Seq("doc_id"), "left_anti")
        graft.sources.DeltaLog.write(spark, survivors, standing)
        NearDup.unpersistAll()
        ()
      }.start()
    q.awaitTermination(120000)
    val out = graft.sources.DeltaLog.read(spark, standing)
      .select("doc_id").as[Long].collect().toSet
    // doc 3 (near-dup of standing doc 1) dropped; everything else kept
    assert(out === Set(1L, 2L, 4L))
  }

  test("prefix-filtered containment equals the full inverted index") {
    val base = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // plant head excerpts so true containment-1.0 pairs exist
    val docs = base.unionAll(base.select((col("doc_id") + 500000).as("doc_id"),
      concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 12)).as("text")))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = collect(NearDup.containmentPairs(docs, "doc_id", "text", 3, 0.9))
    val prefix = collect(NearDup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.9))
    assert(prefix === full)
    assert(full.nonEmpty)
    // a cap far above every df must not change the result; a lower
    // threshold stresses the floor((1-t)n)+1 prefix-length formula
    val capped = collect(NearDup.containmentPairsPrefix(docs, "doc_id", "text",
      3, 0.9, maxDocFreq = Some(1000L)))
    assert(capped === full)
    val full6 = NearDup.containmentPairs(docs, "doc_id", "text", 3, 0.6).count()
    val prefix6 = NearDup.containmentPairsPrefix(docs, "doc_id", "text", 3, 0.6).count()
    assert(prefix6 === full6)
    NearDup.unpersistAll()
  }

  test("violation routing persists failing rows per check (batch + stream)") {
    import org.apache.spark.sql.SaveMode
    val src = java.nio.file.Files.createTempDirectory("graft-q-src").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-q-out").toString
    val df = Seq((1L, "ok", 5.0), (2L, " pad", -1.0), (3L, null.asInstanceOf[String], 2.5))
      .toDF("id", "name", "v")
    val checks = Seq(
      "whitespace_name" -> QualityChecks.unwantedSpacesCond(Seq("name")),
      "nonpositive_v" -> QualityChecks.nonPositiveCond(Seq("v")),
      "null_name" -> QualityChecks.nullPkCond(Seq("name")))
    QualityChecks.routeViolations(df, checks, dir, SaveMode.Overwrite)
    val back = spark.read.parquet(dir)
    def ids(check: String): Set[Long] =
      back.filter(col("check_name") === check).select("id").as[Long].collect().toSet
    assert(ids("whitespace_name") === Set(2L))
    assert(ids("nonpositive_v") === Set(2L)) // row 2 routed once PER check
    assert(ids("null_name") === Set(3L))
    // per-check audit reads prune to one partition
    val scan = back.filter(col("check_name") === "null_name")
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("check_name"))
    // streaming variant lands the same rows
    df.write.mode("overwrite").parquet(src)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-q-out2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q-ckpt").toString
    QualityChecks.routeViolationsOnce(
      spark.readStream.schema(df.schema).parquet(src), checks, dir2, ckpt)
    val sBack = spark.read.parquet(dir2)
    assert(sBack.count() === back.count())
    assert(sBack.select("id", "check_name").exceptAll(
      back.select("id", "check_name")).isEmpty)
  }

  test("driftStats flags a planted mean shift and clears identical snapshots") {
    val before = spark.range(0, 2000).select(col("id"),
      (col("id") % 100).cast("double").as("x"),
      (col("id") % 7).cast("double").as("y"))
    // x drifts by +30 (vs σ≈29 per-row, n=2000 → huge z); y unchanged
    val after = before.withColumn("x", col("x") + 30.0)
    val d = QualityChecks.driftStats(before, after, Seq("x", "y"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toMap
    val (mxa, mxb, zx, dx) = d("x")
    assert(math.abs(mxb - mxa - 30.0) < 1e-6)
    assert(zx > 3.0 && dx, s"x shift not flagged: z=$zx")
    val (_, _, zy, dy) = d("y")
    assert(zy == 0.0 && !dy, s"y falsely drifted: z=$zy")
    // identical snapshots never drift
    assert(QualityChecks.driftStats(before, before, Seq("x", "y"))
      .filter(col("drifted")).count() === 0)
  }

  test("expectations: warn counts, drop filters, fail aborts (DLT triad)") {
    import QualityChecks._
    val df = Seq((1L, 10.0, "ok"), (2L, -3.0, "ok"), (3L, 5.0, " pad"),
      (4L, Double.NaN, "ok")).toDF("id", "v", "s")
      .withColumn("v", when(col("id") === 4, lit(null)).otherwise(col("v")))
    // warn on whitespace, drop non-positive/null v
    val (out, obs) = expect(df, Seq(
      Expectation("trimmed_s", col("s") === trim(col("s")), Warn),
      Expectation("positive_v", col("v") > 0, Drop)))
    val kept = out.select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L)) // 2 fails v>0; 4's NULL is a strict violation
    val m = obs.get
    assert(m("warn_trimmed_s") === 1L) // id 3
    assert(m("drop_positive_v") === 2L) // ids 2 and 4 — counted BEFORE the drop
    assert(m("n_rows") === 4L)
    // fail aborts the whole action on the first violating row
    val (bad, _) = expect(df, Seq(
      Expectation("positive_v", col("v") > 0, Fail)))
    val ex = intercept[Exception] { bad.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("positive_v")), ex.toString)
    // a clean frame passes a fail gate untouched
    val (ok, _) = expect(df.where(col("v") > 0), Seq(
      Expectation("positive_v", col("v") > 0, Fail)))
    assert(ok.count() === 2)
  }

  test("observed metrics ride the action without an extra scan") {
    val df = Seq((1L, 5.0), (2L, -1.0), (3L, 2.0)).toDF("id", "v")
    val (observedDf, obs) = QualityChecks.observed(df, "pass_metrics",
      "rows" -> count(lit(1)),
      "nonpositive" -> sum(when(QualityChecks.nonPositiveCond(Seq("v")), 1L)
        .otherwise(0L)))
    val kept = observedDf.filter(col("v") > 0).count() // the ONLY action
    assert(kept === 2)
    val m = obs.get
    assert(m("rows") === 3L && m("nonpositive") === 1L)
  }

  test("entity check suite mirrors the reference config loop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-entity-q").toString
    val df = Seq(
      (1L, "Ada ", "ada@x.com", 10.0, 1.0),
      (2L, "Bo", "bad_email", -5.0, 1.5),
      (3L, null.asInstanceOf[String], "c@x.com", 3.0, 2.0))
      .toDF("id", "name", "email", "price", "qty")
    val cfg = QualityChecks.EntityConfig(
      pkCols = Seq("id"), stringCols = Seq("name"), numCols = Seq("price"),
      emailCol = Some("email"), integerCol = Some("qty"))
    val summary = QualityChecks.runEntityChecks(df, "dim_test", cfg, Some(dir))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(summary.forall(_._1 == "dim_test"))
    assert(summary.map(t => t._2 -> t._3).toMap === Map(
      "null_pk" -> 0L, "unwanted_spaces" -> 1L, "nonpositive" -> 1L,
      "invalid_email" -> 1L, "non_integer" -> 1L))
    // violating rows landed in the quality table, entity recorded
    val routed = spark.read.parquet(dir)
    assert(routed.filter(col("check_name") === "invalid_email")
      .select("id").as[Long].collect().toSet === Set(2L))
    assert(routed.select("entity").distinct().as[String].collect().toSeq
      === Seq("dim_test"))
  }

  test("minhash-merge aggregate: union property, partition invariance, SQL surface") {
    import graft.functions.MinHashMergeAgg
    // with 1-gram shingles the shingle SET of "a b c x y" IS the
    // union of the sets of "a b c" and "x y" — so the merged
    // signature must equal the union's directly-computed signature
    val docs = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    val sigs = docs.select(NearDup.minHashSignature(col("text"), 1).as("sig"))
    val merged = sigs.agg(MinHashMergeAgg.merge(col("sig")).as("m"))
      .head().getAs[scala.collection.Seq[Long]]("m")
    val unionSig = Seq("a b c x y").toDF("text")
      .select(NearDup.minHashSignature(col("text"), 1).as("sig"))
      .head().getAs[scala.collection.Seq[Long]]("sig")
    assert(merged === unionSig)
    // merge order cannot matter: any partitioning, same result
    val many = graft.sources.Tables.documents(spark, sf)
      .select(NearDup.minHashSignature(col("text"), 3).as("sig"))
    def mergedWith(n: Int) = many.repartition(n)
      .agg(MinHashMergeAgg.merge(col("sig")).as("m"))
      .head().getAs[scala.collection.Seq[Long]]("m")
    assert(mergedWith(1) === mergedWith(7))
    // SQL surface (registered aggregate)
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
      "SELECT graft_minhash_merge(graft_minhash_sig(text)) AS m FROM mh_docs")
      .head().getAs[scala.collection.Seq[Long]]("m")
    assert(viaSql.length === NearDup.NumHashes)
  }

  test("unpersistAll drops every pair-pipeline cache block") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // baseline: blocks persisted by OTHER code (shared test session)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    NearDup.minHashPairs(docs, "doc_id", "text").count()
    NearDup.ngramJaccardPairs(docs, "doc_id", "text").count()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "pipelines should have persisted signature frames")
    NearDup.unpersistAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "unpersistAll must leave no pipeline block behind")
  }

  test("editDistancePairs: PassJoin blocking is lossless vs brute force") {
    import spark.implicits._
    // hand-picked cases: deletion, substitution, insertion, far pair,
    // identical strings, short strings below the segment count
    val fixed = Seq(
      (1L, "alphabet"), (2L, "alphabt"), (3L, "alphabex"),
      (4L, "zzzzzzzz"), (5L, "alphabet"), (6L, "ab"), (7L, "b"), (8L, ""))
      .toDF("id", "s")
    def brute(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = {
      val a = df.select(col("id").as("id_a"), col("s").as("s_a"))
      val b = df.select(col("id").as("id_b"), col("s").as("s_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("d", levenshtein(col("s_a"), col("s_b")).cast("bigint"))
        .where(col("d") <= 2)
        .select("id_a", "id_b", "d").as[(Long, Long, Long)].collect().toSet
    }
    val got = NearDup.editDistancePairs(fixed, "id", "s", maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute(fixed))
    assert(got.contains((1L, 2L, 1L)) && got.contains((1L, 5L, 0L)))

    // property: random low-alphabet strings (collisions + near-misses
    // abundant), blocked join == brute force at k = 1 and k = 2
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val strs = Gen.listOfN(40, for {
      n <- Gen.choose(0, 10)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString)
    val prop = Prop.forAll(strs) { ss =>
      val df = ss.zipWithIndex.map { case (st, i) => (i.toLong, st) }.toDF("id", "s")
      (1 to 2).forall { k =>
        val blocked = NearDup.editDistancePairs(df, "id", "s", maxDist = k)
          .as[(Long, Long, Long)].collect().toSet
        val bf = brute(df).filter(_._3 <= k)
        blocked == bf
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("editDistancePairs: planted-common-prefix skew routes hot buckets through the salted arm, losslessly") {
    import spark.implicits._
    // 400 strings sharing a LONG constant prefix: every segment-0 (and
    // most early-segment) bucket holds all of them — the documented
    // hot-bucket shape. Suffixes make a known pair structure: i and
    // i+1 differ by one substitution when they share a tens-block.
    val n = 400
    val rows = (0 until n).map { i =>
      (i.toLong, f"CUSTOMER-RECORD-PREFIX-${i / 10}%04d${i % 10}")
    }
    val df = rows.toDF("id", "s")
    def brute(k: Int): Set[(Long, Long, Long)] = {
      val a = df.select(col("id").as("id_a"), col("s").as("s_a"))
      val b = df.select(col("id").as("id_b"), col("s").as("s_b"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .withColumn("d", levenshtein(col("s_a"), col("s_b")).cast("bigint"))
        .where(col("d") <= k)
        .select("id_a", "id_b", "d").as[(Long, Long, Long)].collect().toSet
    }
    // threshold low enough that the hot arm MUST engage (400 probes
    // per shared-prefix bucket > 8)
    val salted = NearDup.editDistancePairs(df, "id", "s", maxDist = 2,
      maxProbePerBucket = 8, nSalts = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(salted === brute(2))
    assert(salted.nonEmpty)
    // and with the default threshold (cold path for n=400 buckets of
    // 400? no — 400 > 256, hot arm engages at defaults too) the same
    // exact set comes back
    val defaults = NearDup.editDistancePairs(df, "id", "s", maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(defaults === salted)
    // a non-skewed corpus takes the cold path (no hot buckets) and is
    // still exact — the gate itself never changes results
    val plain = (0 until 50).map(i => (i.toLong, s"v${i}x${i * 7 % 13}"))
      .toDF("id", "s")
    val coldGot = NearDup.editDistancePairs(plain, "id", "s", maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    val a = plain.select(col("id").as("id_a"), col("s").as("s_a"))
    val b = plain.select(col("id").as("id_b"), col("s").as("s_b"))
    val coldBrute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("d", levenshtein(col("s_a"), col("s_b")).cast("bigint"))
      .where(col("d") <= 1)
      .select("id_a", "id_b", "d").as[(Long, Long, Long)].collect().toSet
    assert(coldGot === coldBrute)
  }
}
