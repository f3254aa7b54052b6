package graft.sql

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionFixture

/**
 * SQL-text DML over graft temp views (the [[GraftSqlExtension]]
 * analyzer rewrite): MERGE / DELETE / UPDATE / INSERT issued as
 * literal `spark.sql(...)` must match the frame-level DML semantics,
 * rebind the view, keep pre-DML snapshots intact, and route the MERGE
 * through the lookup join (not a corpus scan).
 */
class GraftSqlExtensionSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def freshCorpus(view: String): IndexedFrame.Handle[Long] = {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df = (1L to 100L).map(k => (k, s"v$k", k * 1.0)).toDF("k", "name", "bal")
    val h = IndexedFrame.index(df, "k", numPartitions = 4)
    h.toDF.createOrReplaceTempView(view)
    h
  }

  test("MERGE INTO as SQL text: delete, update, insert clauses match mergeFrame semantics") {
    val h = freshCorpus("gsx_merge")
    Seq((10L, 0.0), (20L, 5.0), (30L, 2.0), (500L, 7.0), (600L, 0.0))
      .toDF("sk", "delta").createOrReplaceTempView("gsx_merge_src")
    spark.sql(
      """MERGE INTO gsx_merge t USING gsx_merge_src s ON t.k = s.sk
        |WHEN MATCHED AND s.delta = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta
        |WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.sk, s.delta)""".stripMargin)
    val out = spark.sql("SELECT * FROM gsx_merge")
      .as[(Long, String, Double)].collect().toSet
    val expect = (1L to 100L).filter(_ != 10L).map { k =>
      val bal = k * 1.0 + (if (k == 20L) 5.0 else if (k == 30L) 2.0 else 0.0)
      (k, s"v$k", bal)
    }.toSet ++ Set((500L, null: String, 7.0), (600L, null: String, 0.0))
    assert(out === expect)
    // snapshot isolation: the pre-merge handle still reads its own data
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    assert(h.toDF.count() === 100L)
  }

  test("MERGE textual clause order: an earlier UPDATE wins over a later DELETE") {
    freshCorpus("gsx_order")
    Seq((10L, 9.0), (20L, 1.0)).toDF("sk", "delta")
      .createOrReplaceTempView("gsx_order_src")
    // both rows match both clauses' key; update listed FIRST takes
    // delta>5 rows, delete only gets what the update declined
    spark.sql(
      """MERGE INTO gsx_order t USING gsx_order_src s ON t.k = s.sk
        |WHEN MATCHED AND s.delta > 5 THEN UPDATE SET bal = -1
        |WHEN MATCHED THEN DELETE""".stripMargin)
    val out = spark.sql("SELECT k, bal FROM gsx_order WHERE k IN (10, 20)")
      .as[(Long, Double)].collect().toSet
    assert(out === Set((10L, -1.0))) // 20 deleted, 10 updated
  }

  test("MERGE with NULL-valued clause condition skips the clause, SQL-style") {
    freshCorpus("gsx_null")
    Seq((10L, Some(0.0)), (20L, None)).toDF("sk", "delta")
      .createOrReplaceTempView("gsx_null_src")
    spark.sql(
      """MERGE INTO gsx_null t USING gsx_null_src s ON t.k = s.sk
        |WHEN MATCHED AND s.delta = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = 99""".stripMargin)
    val out = spark.sql("SELECT k, bal FROM gsx_null WHERE k IN (10, 20)")
      .as[(Long, Double)].collect().toSet
    // 10: delta=0 -> deleted; 20: NULL condition -> delete skipped,
    // update's effective condition NOT(NULL)=NULL also skipped? No:
    // update has no own condition, its effective condition is
    // NOT(coalesce(NULL,false)) = true -> updated
    assert(out === Set((20L, 99.0)))
  }

  test("SQL-text MERGE routes the source through the lookup join, not a corpus scan") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    IndexedJoin.enable(spark)
    freshCorpus("gsx_plan")
    Seq((10L, 1.0), (20L, 2.0)).toDF("sk", "delta")
      .createOrReplaceTempView("gsx_plan_src")
    IndexedFrame.auditMergePlans = true
    try {
      spark.sql(
        """MERGE INTO gsx_plan t USING gsx_plan_src s ON t.k = s.sk
          |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta
          |WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.sk, s.delta)""".stripMargin)
      assert(IndexedFrame.lastMergePlan.contains("IndexedLookupJoin"),
        s"merge join did not route through the lookup join:\n${IndexedFrame.lastMergePlan}")
    } finally IndexedFrame.auditMergePlans = false
  }

  test("DELETE FROM as SQL text, key and non-key predicates") {
    freshCorpus("gsx_del")
    spark.sql("DELETE FROM gsx_del WHERE k = 7")
    spark.sql("DELETE FROM gsx_del WHERE bal > 98.5") // rows 99, 100
    val left = spark.sql("SELECT k FROM gsx_del").as[Long].collect().toSet
    assert(left === (1L to 100L).toSet -- Set(7L, 99L, 100L))
  }

  test("DELETE with a key IN-subquery routes the subquery keys into deleteFrame") {
    freshCorpus("gsx_delsub")
    Seq(Some(3L), Some(4L), None, Some(500L)).toDF("dk")
      .createOrReplaceTempView("gsx_delsub_keys")
    // NULL keys match nothing (SQL IN), unknown keys are ignored
    spark.sql("DELETE FROM gsx_delsub WHERE k IN (SELECT dk FROM gsx_delsub_keys)")
    val left = spark.sql("SELECT k FROM gsx_delsub").as[Long].collect().toSet
    assert(left === (1L to 100L).toSet -- Set(3L, 4L))
    // derived subquery with an expression output
    spark.sql("DELETE FROM gsx_delsub WHERE k IN (SELECT dk + 7 FROM gsx_delsub_keys WHERE dk IS NOT NULL)")
    val left2 = spark.sql("SELECT k FROM gsx_delsub").as[Long].collect().toSet
    assert(left2 === (1L to 100L).toSet -- Set(3L, 4L, 10L, 11L))
  }

  test("UPDATE as SQL text: only affected rows change; key update is refused") {
    freshCorpus("gsx_upd")
    spark.sql("UPDATE gsx_upd SET bal = bal * 2, name = concat(name, '!') WHERE k <= 3")
    val out = spark.sql("SELECT k, name, bal FROM gsx_upd WHERE k <= 4")
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set((1L, "v1!", 2.0), (2L, "v2!", 4.0), (3L, "v3!", 6.0),
      (4L, "v4", 4.0)))
    // assigning the key column is not intercepted -> Spark's own error
    val e = intercept[Exception](spark.sql("UPDATE gsx_upd SET k = k + 1"))
    assert(e.getMessage != null)
  }

  test("INSERT INTO as SQL text: positional, column list, upsert-on-conflict") {
    freshCorpus("gsx_ins")
    spark.sql("INSERT INTO gsx_ins VALUES (101, 'v101', 101.0)")
    spark.sql("INSERT INTO gsx_ins (k, bal) VALUES (102, 102.0)") // name -> NULL
    spark.sql("INSERT INTO gsx_ins VALUES (1, 'replaced', 0.0)") // keyed upsert
    val out = spark.sql("SELECT k, name, bal FROM gsx_ins WHERE k IN (1, 101, 102)")
      .as[(Long, String, Double)].collect().toSet
    assert(out === Set((1L, "replaced", 0.0), (101L, "v101", 101.0),
      (102L, null: String, 102.0)))
    assert(spark.sql("SELECT count(*) FROM gsx_ins").as[Long].head() === 102L)
  }

  test("INSERT OVERWRITE truncates and loads; UPDATE with key IN-subquery semi-joins") {
    val h = freshCorpus("gsx_ovw")
    spark.sql(
      """INSERT OVERWRITE gsx_ovw
        |SELECT id AS k, concat('n', CAST(id AS STRING)) AS name,
        |       CAST(id AS DOUBLE) * 2 AS bal
        |FROM range(200, 210)""".stripMargin)
    val rows = spark.sql("SELECT k, name, bal FROM gsx_ovw ORDER BY k")
      .as[(Long, String, Double)].collect().toSeq
    assert(rows === (200L until 210L).map(i => (i, s"n$i", i * 2.0)))
    // pre-statement snapshot untouched (COW)
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    assert(h.toDF.count() === 100L)
    // UPDATE ... WHERE k IN (SELECT ...)
    freshCorpus("gsx_updsub")
    Seq(Some(5L), None, Some(6L), Some(9999L)).toDF("uk")
      .createOrReplaceTempView("gsx_updsub_keys")
    spark.sql(
      "UPDATE gsx_updsub SET bal = -1 WHERE k IN (SELECT uk FROM gsx_updsub_keys)")
    val neg = spark.sql("SELECT k FROM gsx_updsub WHERE bal = -1")
      .as[Long].collect().toSet
    assert(neg === Set(5L, 6L))
    assert(spark.sql("SELECT count(*) FROM gsx_updsub").as[Long].head() === 100L)
  }

  test("composite-key MERGE as SQL text with a two-equality ON clause") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df = (for (a <- 1L to 5L; b <- 1L to 10L)
      yield (a, b, a * 100.0 + b)).toDF("ka", "kb", "bal")
    IndexedFrame.indexCompositeN(df, Seq("ka", "kb"))
      .toDF.createOrReplaceTempView("gsx_cmp")
    Seq((2L, 3L, 0.0), (4L, 5L, 7.0), (9L, 9L, 1.0)).toDF("sa", "sb", "delta")
      .createOrReplaceTempView("gsx_cmp_src")
    spark.sql(
      """MERGE INTO gsx_cmp t USING gsx_cmp_src s
        |ON t.ka = s.sa AND t.kb = s.sb
        |WHEN MATCHED AND s.delta = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta
        |WHEN NOT MATCHED THEN INSERT (ka, kb, bal) VALUES (s.sa, s.sb, s.delta)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gsx_cmp").as[Long].head() === 50L) // -1 +1
    assert(spark.sql("SELECT bal FROM gsx_cmp WHERE ka=4 AND kb=5")
      .as[Double].head() === 412.0)
    assert(spark.sql("SELECT count(*) FROM gsx_cmp WHERE ka=2 AND kb=3")
      .as[Long].head() === 0L)
    assert(spark.sql("SELECT bal FROM gsx_cmp WHERE ka=9 AND kb=9")
      .as[Double].head() === 1.0)
  }

  test("N-ary composite DML: programmatic and SQL-text upsert/delete/merge at arity 3") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.col
    val df = (for (a <- 1L to 4L; b <- 1L to 5L; c <- 1L to 3L)
      yield (a, b, c, a * 100.0 + b * 10 + c)).toDF("ka", "kb", "kc", "bal")
    val h = IndexedFrame.indexCompositeN(df, Seq("ka", "kb", "kc"))
    // programmatic: upsert replaces + inserts; delete removes tuples
    val up = Seq((1L, 1L, 1L, -5.0), (9L, 9L, 9L, 999.0))
      .toDF("ka", "kb", "kc", "bal")
    val h2 = h.upsertFrame(up)
    assert(h2.toDF.count() === 61L)
    assert(h2.toDF.filter($"ka" === 1L && $"kb" === 1L && $"kc" === 1L)
      .select($"bal").as[Double].head() === -5.0)
    val h3 = h2.deleteFrame(Seq((9L, 9L, 9L), (4L, 5L, 3L), (8L, 8L, 8L))
      .toDF("ka", "kb", "kc"))
    assert(h3.toDF.count() === 59L) // unknown tuple ignored
    // programmatic merge on all three key columns
    val src = Seq((1L, 2L, 3L, 0.0), (2L, 3L, 1L, 7.0), (7L, 7L, 7L, 1.0))
      .toDF("sa", "sb", "sc", "delta")
    val m = h.mergeFrame(src, Seq("sa", "sb", "sc"),
      deleteWhen = Some(col("s.delta") === 0.0),
      updateSet = Map("bal" -> (col("t.bal") + col("s.delta"))),
      insertValues = Map("ka" -> col("s.sa"), "kb" -> col("s.sb"),
        "kc" -> col("s.sc"), "bal" -> col("s.delta")))
    assert(m.toDF.count() === 60L) // -1 deleted, +1 inserted
    assert(m.toDF.filter($"ka" === 2L && $"kb" === 3L && $"kc" === 1L)
      .select($"bal").as[Double].head() === 238.0)
    assert(m.toDF.filter($"ka" === 7L).count() === 1L)
    // SQL text through the extension, three-equality ON clause
    h.toDF.createOrReplaceTempView("gsx_n3")
    src.createOrReplaceTempView("gsx_n3_src")
    spark.sql(
      """MERGE INTO gsx_n3 t USING gsx_n3_src s
        |ON t.ka = s.sa AND t.kb = s.sb AND t.kc = s.sc
        |WHEN MATCHED AND s.delta = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta
        |WHEN NOT MATCHED THEN INSERT (ka, kb, kc, bal)
        |  VALUES (s.sa, s.sb, s.sc, s.delta)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM gsx_n3").as[Long].head() === 60L)
    assert(spark.sql("SELECT bal FROM gsx_n3 WHERE ka=2 AND kb=3 AND kc=1")
      .as[Double].head() === 238.0)
    spark.sql("DELETE FROM gsx_n3 WHERE ka = 3")
    assert(spark.sql("SELECT count(*) FROM gsx_n3 WHERE ka = 3")
      .as[Long].head() === 0L)
    spark.sql("UPDATE gsx_n3 SET bal = 0 WHERE ka = 4 AND kb = 1")
    assert(spark.sql("SELECT sum(bal) FROM gsx_n3 WHERE ka = 4 AND kb = 1")
      .as[Double].head() === 0.0)
    spark.sql("INSERT INTO gsx_n3 VALUES (11, 1, 1, 1.0)")
    assert(spark.sql("SELECT bal FROM gsx_n3 WHERE ka = 11")
      .as[Double].head() === 1.0)
  }

  test("consecutive statements observe each other; non-graft views are untouched") {
    freshCorpus("gsx_seq")
    spark.sql("INSERT INTO gsx_seq VALUES (200, 'x', 1.0)")
    spark.sql("UPDATE gsx_seq SET bal = bal + 1 WHERE k = 200")
    spark.sql("DELETE FROM gsx_seq WHERE k = 200")
    assert(spark.sql("SELECT count(*) FROM gsx_seq WHERE k = 200")
      .as[Long].head() === 0L)
    // a plain (non-graft) temp view still gets Spark's standard errors
    Seq((1, "a")).toDF("id", "s").createOrReplaceTempView("gsx_plain")
    intercept[Exception](spark.sql("DELETE FROM gsx_plain WHERE id = 1"))
  }

  test("3-clause merge executes the source plan exactly once") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import org.apache.spark.sql.functions.{col, udf}
    val h = freshCorpus("gsx_onepass")
    val acc = spark.sparkContext.longAccumulator("src-passes")
    val bump = udf((k: Long) => { acc.add(1); k })
    val src = Seq((10L, 0.0), (20L, 5.0), (500L, 7.0)).toDF("sk", "delta")
      .withColumn("sk", bump($"sk"))
    val merged = h.mergeFrame(src, "sk",
      deleteWhen = Some(col("s.delta") === 0.0),
      updateSet = Map("bal" -> (col("t.bal") + col("s.delta"))),
      insertValues = Map("k" -> col("s.sk"), "bal" -> col("s.delta")))
    merged.toDF.count() // full materialization of the merged snapshot
    assert(acc.value === 3L,
      s"source rows evaluated ${acc.value} times, expected 3 (one pass)")
    // and the result is still right
    assert(merged.toDF.count() === 100L) // -1 deleted, +1 inserted
  }

  test("VERSION AS OF time-travels the SQL-text DML chain") {
    freshCorpus("gsx_tt")
    spark.sql("DELETE FROM gsx_tt WHERE k <= 10")
    spark.sql("UPDATE gsx_tt SET bal = 0 WHERE k > 90")
    spark.sql("INSERT INTO gsx_tt VALUES (200, 'x', 1.0)")
    assert(GraftSqlExtension.versionCount(spark, "gsx_tt") === 4)
    val counts = (0 to 3).map(v =>
      spark.sql(s"SELECT count(*) FROM gsx_tt VERSION AS OF $v").as[Long].head())
    assert(counts === Seq(100L, 90L, 90L, 91L))
    // version 1 still has bal intact for k > 90; version 2 zeroed it
    assert(spark.sql(
      "SELECT sum(bal) FROM gsx_tt VERSION AS OF 1 WHERE k > 90")
      .as[Double].head() === (91L to 100L).map(_.toDouble).sum)
    assert(spark.sql(
      "SELECT sum(bal) FROM gsx_tt VERSION AS OF 2 WHERE k > 90")
      .as[Double].head() === 0.0)
    // current view == latest version
    assert(spark.sql("SELECT count(*) FROM gsx_tt").as[Long].head() === 91L)
    // joining two versions of the SAME view (the classic diff query)
    val diff = spark.sql(
      """SELECT a.k FROM gsx_tt VERSION AS OF 0 a
        |LEFT ANTI JOIN gsx_tt VERSION AS OF 1 b ON a.k = b.k""".stripMargin)
      .as[Long].collect().toSet
    assert(diff === (1L to 10L).toSet)
    // unknown version stays for Spark's error
    intercept[Exception](
      spark.sql("SELECT * FROM gsx_tt VERSION AS OF 99").collect())
  }

  test("CREATE/DROP INDEX as SQL text: hash, btree, zonemap route and release") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val df = (1L to 200L).map(k => (k, s"n${k % 20}", k % 7, k * 1.0))
      .toDF("k", "name", "grp", "bal")
    val h = IndexedFrame.index(df, "k", numPartitions = 4)
    h.toDF.createOrReplaceTempView("gsx_ddl")
    // hash secondary on a string column
    spark.sql("CREATE INDEX name_idx ON gsx_ddl (name)")
    assert(h.hasSecondary("name") && !h.hasOrderedSecondary("name"))
    assert(spark.sql("SELECT k FROM gsx_ddl WHERE name = 'n7'")
      .as[Long].collect().toSet === (1L to 200L).filter(k => k % 20 == 7).toSet)
    // the SQL-created index actually ROUTES: the equality ran as a
    // secondary point probe, not a corpus scan
    assert(h.lastScanKind === "secondary_point")
    // ordered secondary: USING BTREE
    spark.sql("CREATE INDEX grp_idx ON gsx_ddl USING BTREE (grp)")
    assert(h.hasOrderedSecondary("grp"))
    assert(spark.sql("SELECT k FROM gsx_ddl WHERE grp BETWEEN 5 AND 6")
      .as[Long].collect().toSet === (1L to 200L).filter(k => k % 7 >= 5).toSet)
    // zone maps: USING ZONEMAP
    spark.sql("CREATE INDEX bal_zone ON gsx_ddl USING ZONEMAP (bal)")
    assert(h.zoneSnapshot._1.contains("bal"))
    assert(GraftSqlExtension.indexesOn(spark, "gsx_ddl").map(_._1) ===
      Seq("bal_zone", "grp_idx", "name_idx"))
    // duplicate name: IF NOT EXISTS no-ops, bare CREATE errors
    spark.sql("CREATE INDEX IF NOT EXISTS name_idx ON gsx_ddl (name)")
    intercept[Exception](spark.sql("CREATE INDEX name_idx ON gsx_ddl (name)"))
    // unsupported index type errors with the graft message
    val e = intercept[Exception](
      spark.sql("CREATE INDEX x ON gsx_ddl USING RTREE (name)"))
    assert(e.getMessage.contains("unsupported index type"))
    // DROP releases each kind; unknown name needs IF EXISTS
    spark.sql("DROP INDEX name_idx ON gsx_ddl")
    assert(!h.hasSecondary("name"))
    // and the same query falls back to the scan lane — sound, just slow
    spark.sql("SELECT k FROM gsx_ddl WHERE name = 'n7'").collect()
    assert(h.lastScanKind === "full")
    spark.sql("DROP INDEX bal_zone ON gsx_ddl")
    assert(!h.zoneSnapshot._1.contains("bal"))
    spark.sql("DROP INDEX IF EXISTS nosuch ON gsx_ddl")
    intercept[Exception](spark.sql("DROP INDEX nosuch ON gsx_ddl"))
    assert(GraftSqlExtension.indexesOn(spark, "gsx_ddl").map(_._1) === Seq("grp_idx"))
    // a non-graft temp view is not intercepted: Spark raises its own
    // CREATE INDEX error
    df.createOrReplaceTempView("gsx_ddl_plain")
    intercept[Exception](spark.sql("CREATE INDEX p ON gsx_ddl_plain (name)"))
  }

  test("graft_changes TVF: insert/delete/update images between versions") {
    freshCorpus("gsx_cdc")
    spark.sql("DELETE FROM gsx_cdc WHERE k <= 3")                 // -> v1
    spark.sql("UPDATE gsx_cdc SET bal = bal + 100 WHERE k = 50")  // -> v2
    spark.sql("INSERT INTO gsx_cdc VALUES (999, 'new', 1.0)")     // -> v3
    val ch = spark.sql(
      "SELECT _change_type, k FROM graft_changes('gsx_cdc', 0, 3)")
      .as[(String, Long)].collect().toSet
    assert(ch === Set(("delete", 1L), ("delete", 2L), ("delete", 3L),
      ("update_preimage", 50L), ("update_postimage", 50L), ("insert", 999L)))
    // images carry the version's values
    val bal = spark.sql(
      """SELECT _change_type, bal FROM graft_changes('gsx_cdc', 1, 2)
        |WHERE k = 50""".stripMargin).as[(String, Double)].collect().toSet
    assert(bal === Set(("update_preimage", 50.0), ("update_postimage", 150.0)))
    // omitted toVersion = latest; adjacent equal rows are not changes
    assert(spark.sql("SELECT _change_type, k FROM graft_changes('gsx_cdc', 2)")
      .as[(String, Long)].collect().toSet === Set(("insert", 999L)))
    // unknown version / unrecorded view raise the graft errors
    intercept[Exception](
      spark.sql("SELECT * FROM graft_changes('gsx_cdc', 0, 99)").collect())
    intercept[Exception](
      spark.sql("SELECT * FROM graft_changes('gsx_nochain', 0)").collect())
    // re-binding the name to a FRESH handle starts a NEW chain: the
    // next statement's version 0 is the new corpus, not the dead
    // binding's history
    freshCorpus("gsx_cdc")
    spark.sql("DELETE FROM gsx_cdc WHERE k = 1")
    assert(GraftSqlExtension.versionCount(spark, "gsx_cdc") === 2)
    assert(spark.sql("SELECT _change_type, k FROM graft_changes('gsx_cdc', 0)")
      .as[(String, Long)].collect().toSet === Set(("delete", 1L)))
  }

  test("TIMESTAMP AS OF floors commit times to the version current then") {
    freshCorpus("gsx_ts2")
    spark.sql("DELETE FROM gsx_ts2 WHERE k <= 10") // -> v1
    Thread.sleep(60) // distinct commit stamps for the floor assertions
    spark.sql("DELETE FROM gsx_ts2 WHERE k <= 20") // -> v2
    val times = GraftSqlExtension.versionTimes(spark, "gsx_ts2")
    assert(times.length === 3 && times(0) === times(1) && times(2) > times(1))
    def countAt(ms: Long): Long = {
      val ts = new java.sql.Timestamp(ms).toString
      spark.sql(s"SELECT count(*) AS c FROM gsx_ts2 TIMESTAMP AS OF '$ts'")
        .as[Long].head()
    }
    assert(countAt(times(1)) === 90L)         // at commit 1 -> v1
    assert(countAt(times(2) - 1) === 90L)     // between commits floors to v1
    assert(countAt(times(2)) === 80L)         // at commit 2 -> v2
    assert(countAt(times(2) + 60000) === 80L) // future -> latest
    // a timestamp before the whole chain is not intercepted: Spark's
    // ordinary time-travel error surfaces
    intercept[Exception](countAt(times(0) - 60000))
  }

  test("graft_changes plans exchange-free zip joins over co-partitioned versions") {
    freshCorpus("gsx_cdcplan")
    spark.sql("DELETE FROM gsx_cdcplan WHERE k <= 3")
    spark.sql("UPDATE gsx_cdcplan SET bal = 0 WHERE k = 50")
    val df = spark.sql("SELECT * FROM graft_changes('gsx_cdcplan', 0, 2)")
    // the three diff joins (two anti, one inner) zip the co-partitioned
    // COW snapshots: no ShuffleExchange anywhere in the plan — the
    // 100 TB CDC-read shape, by construction
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"expected exchange-free CDC diff:\n${df.queryExecution.executedPlan}")
    assert(df.count() === 3 + 2) // 3 deletes + update pre/post
  }

  test("SQL scalar functions compute the same values as the Column API") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "the cat sat on the mat and it was a good day for all of them"),
      (2L, "zzz qqq 123"),
      (3L, "Contact me at a@b.com or https://x.org today")).toDF("id", "text")
    df.createOrReplaceTempView("gsx_fn")
    val viaSql = spark.sql(
      """SELECT id, graft_quality(text) AS q, graft_token_count(text) AS tc,
        |  graft_fingerprint(text) AS fp, graft_simhash(text) AS sh,
        |  graft_langid(text).lang AS lang, graft_redact(text) AS red
        |FROM gsx_fn""".stripMargin).collect().map(r => r.getLong(0) -> r).toMap
    val viaApi = df.select($"id", TextFunctions.qualityScore($"text").as("q"),
      TextFunctions.tokenCount($"text").as("tc"),
      TextFunctions.fingerprint($"text").as("fp"),
      graft.pipeline.Dedup.simhashColumn($"text").as("sh"),
      TextFunctions.langId($"text").getField("lang").as("lang"),
      TextFunctions.redactPii($"text").as("red"))
      .collect().map(r => r.getLong(0) -> r).toMap
    viaApi.foreach { case (id, a) =>
      val s = viaSql(id)
      (1 until a.length).foreach(i => assert(s.get(i) === a.get(i), s"id $id col $i"))
    }
    assert(viaSql(3L).getString(6).contains("<EMAIL>"))
    // wrong arity raises the graft message
    val e = intercept[Exception](spark.sql("SELECT graft_quality(1, 2)"))
    assert(e.getMessage.contains("exactly one argument") ||
      e.getCause != null && e.getCause.getMessage.contains("exactly one argument"))
  }

  test("WHEN NOT MATCHED BY SOURCE: full mirror merge with all four clause kinds") {
    freshCorpus("gsx_nbs")
    Seq((10L, 100.0), (20L, 200.0), (500L, 5.0)).toDF("sk", "v")
      .createOrReplaceTempView("gsx_nbs_src")
    spark.sql(
      """MERGE INTO gsx_nbs t USING gsx_nbs_src s ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET bal = s.v
        |WHEN NOT MATCHED THEN INSERT (k, bal) VALUES (s.sk, s.v)
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 30 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 60 THEN UPDATE SET bal = -1""".stripMargin)
    val out = spark.sql("SELECT k, bal FROM gsx_nbs")
      .as[(Long, Double)].collect().toMap
    // matched rows take the source value
    assert(out(10L) === 100.0 && out(20L) === 200.0)
    // unmatched source key inserted
    assert(out(500L) === 5.0)
    // NBS delete: every target key <= 30 the source lacks is gone
    assert((1L to 30L).filterNot(Set(10L, 20L)).forall(!out.contains(_)))
    // NBS update only gets what the earlier delete clause declined
    assert((31L to 60L).forall(out(_) === -1.0))
    // beyond every NBS condition: untouched
    assert((61L to 100L).forall(k => out(k) === k * 1.0))
    assert(out.size === 100 - 28 + 1)
  }

  test("NOT MATCHED BY SOURCE textual order: an earlier UPDATE wins over a later DELETE") {
    freshCorpus("gsx_nbs_ord")
    Seq((999L, 1.0)).toDF("sk", "v").createOrReplaceTempView("gsx_nbs_ord_src")
    spark.sql(
      """MERGE INTO gsx_nbs_ord t USING gsx_nbs_ord_src s ON t.k = s.sk
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 50 THEN UPDATE SET bal = -2
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val out = spark.sql("SELECT k, bal FROM gsx_nbs_ord")
      .as[(Long, Double)].collect().toMap
    assert(out.keySet === (1L to 50L).toSet) // 51..100 deleted
    assert((1L to 50L).forall(out(_) === -2.0))
  }

  test("unsupported MERGE shapes are not intercepted and raise Spark's error") {
    freshCorpus("gsx_unsup")
    Seq((1L, 1.0)).toDF("sk", "delta").createOrReplaceTempView("gsx_unsup_src")
    // two NBS DELETE clauses are outside the folded clause surface
    intercept[Exception](spark.sql(
      """MERGE INTO gsx_unsup t USING gsx_unsup_src s ON t.k = s.sk
        |WHEN MATCHED THEN UPDATE SET bal = 0
        |WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    // non-equi ON condition cannot route through the keyed merge
    intercept[Exception](spark.sql(
      """MERGE INTO gsx_unsup t USING gsx_unsup_src s ON t.k > s.sk
        |WHEN MATCHED THEN UPDATE SET bal = 0""".stripMargin))
  }
}
