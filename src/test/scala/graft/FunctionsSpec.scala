package graft

import org.apache.spark.sql.functions._

import graft.functions.{cosine_similarity, float_dot, long_argmin_key, md5_hash64, vector_norm}
import graft.ops.Similarity

/** The native FloatVectorDot expression: value parity with the
  * interpreted HOF formulation, null semantics, and mismatch errors. */
class FunctionsSpec extends SparkSpec {

  private def vecDf = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, -1.5f, 2.25f), Array(-0.25f, 3.0f, 1.0f)))
      .toDF("id", "a", "b")
  }

  test("float_dot matches the interpreted zip_with/aggregate result exactly") {
    val rows = vecDf.select(
      float_dot(col("a"), col("b")).as("native"),
      Similarity.dotAny(col("a"), col("b")).as("interpreted")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bitwise-identical doubles
    }
  }

  test("float_dot computes the expected values") {
    val got = vecDf.orderBy("id").select(float_dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == (1.0 * 4 + 2.0 * 5 + 3.0 * 6))
    assert(math.abs(got(1).getDouble(0) - (0.5 * -0.25 + -1.5 * 3.0 + 2.25 * 1.0)) < 1e-12)
  }

  test("null input -> null output; type mismatch rejected at analysis") {
    val s = spark
    import s.implicits._
    val withNull = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val r = withNull.select(float_dot(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
    val bad = Seq((Array(1.0), Array(1.0f))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(float_dot(col("a"), col("b"))).collect()
    }
  }

  test("cosine_similarity of a vector with itself is 1") {
    val got = vecDf.select(cosine_similarity(col("a"), col("a"))).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("float_vector_dot is callable from SQL after registration") {
    graft.functions.GraftExtensions.register(spark)
    vecDf.createOrReplaceTempView("vecs")
    val got = spark.sql(
      "SELECT float_vector_dot(a, b) AS d FROM vecs WHERE id = 1").head().getDouble(0)
    assert(got == 32.0)
  }

  test("integer-vector kernels and mix64/gram aggregate are callable from SQL") {
    graft.functions.GraftExtensions.register(spark)
    val s = spark
    import s.implicits._
    Seq((1L, Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)))
      .toDF("id", "x", "y").createOrReplaceTempView("lvecs")
    assert(spark.sql("SELECT long_vector_dot(x, y) FROM lvecs").head().getLong(0) == 32L)
    assert(spark.sql("SELECT long_vector_sqdist(x, y) FROM lvecs").head().getLong(0) == 27L)
    // centroids (0,0,0) cid=0 and (4,5,6) cid=1: nearest is cid 1 at dist 0
    assert(spark.sql(
      """SELECT long_vector_argmin_key(y, array(0L,0L,0L,4L,5L,6L), array(0L,1L), 2)
        |FROM lvecs""".stripMargin).head().getLong(0) == 1L)
    assert(spark.sql("SELECT mix64(id, 3, 5) FROM lvecs").head().getLong(0) == 8L)
    val gram = spark.sql("SELECT long_gram_matrix(x, 3) FROM lvecs").head()
    assert(gram.get(0) != null) // buffer row shape checked in its own spec
  }

  test("expression survives codegen (wholestage on) and interpreted (off)") {
    val df = vecDf
    val expected = df.select(vector_norm(col("a"))).collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(vector_norm(col("a"))).collect().map(_.getDouble(0))
      assert(interp.sameElements(expected))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("long_argmin_key: matches the per-centroid formulation, codegen and interpreted; overflow throws") {
    val s = spark
    import s.implicits._
    // vectors + 3 centroids in 2-D; k=4 packing
    val df = Seq(
      (1L, Seq(0L, 0L)), (2L, Seq(10L, 10L)), (3L, Seq(-5L, 3L)))
      .toDF("id", "xm")
      .withColumn("cids", typedLit(Seq(0L, 1L, 2L)))
      .withColumn("cmat", typedLit(Seq(0L, 0L, 10L, 9L, -6L, 2L)))
    def keys(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), long_argmin_key(col("xm"), col("cmat"), col("cids"), 4).as("k"))
      .orderBy("id").collect().map(_.getLong(1))
    // reference by hand: id1 -> c0 d=0 key=0*4+0=0; id2 -> c1 d=0+1 key=5;
    // id3 -> c2 d=1+1 key=2*4+2=10
    val expected = Array(0L, 5L, 10L)
    assert(keys(df).sameElements(expected))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(keys(df).sameElements(expected))
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // ties break to the lowest cid: equidistant centroids
    val tie = Seq((1L, Seq(0L))).toDF("id", "xm")
      .withColumn("cids", typedLit(Seq(0L, 1L)))
      .withColumn("cmat", typedLit(Seq(2L, -2L)))
    assert(tie.select(long_argmin_key(col("xm"), col("cmat"), col("cids"), 2))
      .head().getLong(0) == 4L * 2L + 0L)
    // packed-key overflow must throw, not wrap: sqdist ~ (3e9)^2 > bound
    val big = Seq((1L, Seq(3000000000L))).toDF("id", "xm")
      .withColumn("cids", typedLit(Seq(0L)))
      .withColumn("cmat", typedLit(Seq(-3000000000L)))
    val e = intercept[Exception] {
      big.select(long_argmin_key(col("xm"), col("cmat"), col("cids"), 8)).head()
    }
    assert(e.getMessage != null)
  }

  test("md5_hash64 equals the hex-prefix parse of builtin md5, codegen and interpreted") {
    val s = spark
    import s.implicits._
    val df = Seq("", "a", "hello world", "straße", "the").toDF("s")
    // reference: first 16 hex chars of md5 as two 32-bit halves
    val ref = df.select(
      (shiftleft(conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long"))).as("h"))
      .collect().map(_.getLong(0))
    val got = df.select(md5_hash64(col("s")).as("h")).collect().map(_.getLong(0))
    assert(got.sameElements(ref))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(md5_hash64(col("s")).as("h")).collect().map(_.getLong(0))
      assert(interp.sameElements(ref))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // SQL registration
    graft.functions.GraftExtensions.register(spark)
    df.createOrReplaceTempView("md5t")
    val viaSql = spark.sql("SELECT md5_hash64(s) AS h FROM md5t").collect().map(_.getLong(0))
    assert(viaSql.sameElements(ref))
    // null propagates
    assert(Seq(Option.empty[String]).toDF("s").select(md5_hash64(col("s"))).head().isNullAt(0))
  }

  test("text_stats kernel equals the regex formulation on corpus + edge cases") {
    val s = spark
    import s.implicits._
    val edges = Seq(
      "", "   ", "\t\n\r", "the", "the the theory!", "a\tb\nc",
      "99 bottles of BEER!!!", "El la de-de que", "The AND Of to", "nicht!nicht",
      "la", "....", "der die das und ist", "x" * 300, "0123456789",
      "Words, with; punctuation: everywhere! (and) [brackets]")
      .toDF("text")
    val corpus = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("text")
    for (df <- Seq(edges, corpus)) {
      // the pre-kernel regex formulation, inlined as the reference
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val nw = when(length(norm) === 0, 0).otherwise(size(split(norm, " ")))
      def cls(c: String) = length(col("text")) - length(regexp_replace(col("text"), c, ""))
      def sw(words: Seq[String]) = regexp_count(concat(lit(" "), norm, lit(" ")),
        lit("(?<= )(" + words.mkString("|") + ")(?= )"))
      val ref = df.select(
        length(col("text")).cast("long"), nw.cast("long"), length(norm).cast("long"),
        cls("[^a-zA-Z0-9\\s]").cast("long"), cls("[0-9]").cast("long"),
        sw(Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein")).cast("long"),
        sw(Seq("the", "and", "of", "to", "in", "is", "that", "for")).cast("long"),
        sw(Seq("el", "la", "de", "que", "los", "las", "una", "por")).cast("long"),
        sw(Seq("le", "la", "les", "des", "est", "dans", "pour", "que")).cast("long"))
        .collect().map(_.toSeq)
      val got = df.select((1 to 9).map(i =>
          element_at(graft.functions.text_stats(col("text")), i)): _*)
        .collect().map(_.toSeq)
      ref.zip(got).zipWithIndex.foreach { case ((r, g), i) =>
        assert(r == g, s"row $i: regex=$r kernel=$g")
      }
    }
  }

  test("snapshot_table TVF: current read, time travel, and literal-arg validation") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tvf").toString + "/t"
    graft.sources.SnapshotTable.commit(
      (1 to 30).map(i => (i.toLong, s"v$i")).toDF("id", "v"), root)
    graft.sources.SnapshotTable.deleteKeys(Seq(5L, 6L).toDF("id"), root)
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_table('$root')")
      .head().getLong(0) == 28)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_table('$root', 1)")
      .head().getLong(0) == 30)
    // splices into larger plans: join the TVF against itself
    val joined = spark.sql(
      s"""SELECT count(*) FROM snapshot_table('$root', 1) a
         |JOIN snapshot_table('$root') b ON a.id = b.id""".stripMargin)
    assert(joined.head().getLong(0) == 28)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_table('$root', 1 + 1)").collect()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.contains("FAILED"))
  }

  test("foreign-lake TVFs: delta_table / hudi_table / iceberg_table from plain SQL") {
    val s = spark
    import s.implicits._
    graft.functions.GraftExtensions.register(spark)
    val base = java.nio.file.Files.createTempDirectory("graft-tvff").toString
    // delta: via the snapshot-table UniForm export (one commit)
    val droot = s"$base/d"
    graft.sources.SnapshotTable.commit(
      (1 to 7).map(i => (i.toLong, "d")).toDF("id", "v"), droot)
    graft.sources.DeltaCompat.exportDeltaLog(spark, droot)
    assert(spark.sql(s"SELECT count(*) FROM delta_table('$droot')")
      .head().getLong(0) == 7)
    // hudi: two slices, one rewritten
    val hroot = s"$base/h"
    graft.sources.HudiCompat.beginCommit(spark, hroot, "001")
    graft.sources.HudiCompat.writeBaseFile(
      Seq((1L, "old")).toDF("id", "v"), hroot, "p=a", "fgA", "001")
    graft.sources.HudiCompat.completeCommit(spark, hroot, "001")
    graft.sources.HudiCompat.beginCommit(spark, hroot, "002")
    graft.sources.HudiCompat.writeBaseFile(
      Seq((1L, "new"), (2L, "new")).toDF("id", "v"), hroot, "p=a", "fgA", "002")
    graft.sources.HudiCompat.completeCommit(spark, hroot, "002")
    assert(spark.sql(s"SELECT count(*) FROM hudi_table('$hroot')")
      .head().getLong(0) == 2)
    // iceberg: via the UniForm export over a snapshot table
    val iroot = s"$base/i"
    graft.sources.SnapshotTable.commit(
      (1 to 5).map(i => (i.toLong, "i")).toDF("id", "v"), iroot)
    graft.sources.IcebergCompat.exportIcebergMetadata(spark, iroot)
    assert(spark.sql(s"SELECT count(*) FROM iceberg_table('$iroot')")
      .head().getLong(0) == 5)
    // the exported manifests must carry TRUE record counts: real
    // Iceberg engines answer count(*) from this field without touching
    // data, so a 0 here would read the table as empty over there
    val manifests = new java.io.File(s"$iroot/metadata").listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
    assert(manifests.nonEmpty)
    val counted = manifests.flatMap(m =>
      graft.sources.IcebergCompat.manifestRecordCounts(spark, m.getPath))
    assert(counted.sum == 5 && counted.forall(_ > 0),
      s"exported record_count must be the files' true row counts, got ${counted.toSeq}")
    // TVFs splice into larger plans across FORMATS
    assert(spark.sql(
      s"""SELECT count(*) FROM delta_table('$droot') d
         |JOIN iceberg_table('$iroot') i ON d.id = i.id""".stripMargin)
      .head().getLong(0) == 5)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM delta_table(1)").collect()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.contains("string"))
    // delta_changes: the CDF window from plain SQL — the export's one
    // commit derives whole-file inserts
    val feed = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM delta_changes('$droot', -1, 0) GROUP BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(feed == Map("insert" -> 7L), s"got $feed")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM delta_changes('$droot', 'x', 0)").collect()
    }
    assert(e2.getMessage.contains("integer literal"))
  }

  test("snapshot_branch TVF reads the branch state from plain SQL") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tvfb").toString + "/t"
    graft.sources.SnapshotTable.commit(
      (1 to 10).map(i => (i.toLong, "main")).toDF("id", "v"), root)
    graft.sources.SnapshotTable.branchCreate(spark, root, "dev")
    graft.sources.SnapshotTable.branchAppend(
      Seq((11L, "dev")).toDF("id", "v"), root, "dev")
    graft.functions.GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_branch('$root', 'dev')")
      .head().getLong(0) == 11)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_table('$root')")
      .head().getLong(0) == 10)
    // branch-only rows visible through the branch TVF, not main's
    assert(spark.sql(
      s"""SELECT count(*) FROM snapshot_branch('$root', 'dev') b
         |LEFT ANTI JOIN snapshot_table('$root') m ON b.id = m.id""".stripMargin)
      .head().getLong(0) == 1)
  }
}
