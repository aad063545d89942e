package graft.table

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.TableChange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution (ALTER TABLE ADD/DROP/RENAME COLUMN): metadata-only
  * snapshots, null-fill reads over pre-evolution files, rename as a
  * logical re-label over immutable physical names, and maintenance
  * (compact/cluster/merge/update) carrying evolved columns through
  * rewrites.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def withCatalog[A](f: => A): A = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
    try f finally spark.conf.unset("spark.sql.catalog.graft")
  }

  private def rows4(ids: Range, source: String = "web",
      s: org.apache.spark.sql.SparkSession = spark) = {
    import s.implicits._
    ids.map(i => (f"doc_$i%06d", Seq(i, i + 1), 2, source))
      .toDF("doc_id", "tokens", "n_tok", "source")
  }

  // ------------------------------------------------------ pure evolve()

  private val base = TokenTable.tokenSchema

  test("evolve: add appends a nullable field with a unique physical name") {
    val s = SchemaEvolution.evolve(base,
      Seq(TableChange.addColumn(Array("lang"), StringType, true)))
    assert(s.fields.length == 5)
    val f = s.fields.last
    assert(f.name.startsWith("lang_") && f.name.length == "lang_".length + 8)
    assert(f.nullable && SchemaEvolution.logicalName(f) == "lang")
    assert(SchemaEvolution.logicalSchema(s).fieldNames.last == "lang")
  }

  test("evolve: guards — core drops, NOT NULL adds, dup names, reserved names") {
    intercept[IllegalArgumentException] {
      SchemaEvolution.evolve(base, Seq(TableChange.deleteColumn(Array("n_tok"), false)))
    }
    intercept[IllegalArgumentException] { // NOT NULL add
      SchemaEvolution.evolve(base, Seq(TableChange.addColumn(Array("x"), IntegerType, false)))
    }
    intercept[IllegalArgumentException] { // duplicate (case-insensitive)
      SchemaEvolution.evolve(base, Seq(TableChange.addColumn(Array("SOURCE"), StringType, true)))
    }
    // Core names stay reserved even after the core column is renamed away:
    val renamed = SchemaEvolution.evolve(base,
      Seq(TableChange.renameColumn(Array("doc_id"), "id")))
    intercept[IllegalArgumentException] {
      SchemaEvolution.evolve(renamed, Seq(TableChange.addColumn(Array("doc_id"), StringType, true)))
    }
    // Unknown drop without IF EXISTS fails; with it, no-ops.
    intercept[IllegalArgumentException] {
      SchemaEvolution.evolve(base, Seq(TableChange.deleteColumn(Array("nope"), false)))
    }
    assert(SchemaEvolution.evolve(base,
      Seq(TableChange.deleteColumn(Array("nope"), true))) == base)
  }

  test("evolve: column comments are metadata-only; type/nullability changes reject") {
    val s = SchemaEvolution.evolve(base,
      Seq(TableChange.updateColumnComment(Array("n_tok"), "token count")))
    assert(s("n_tok").getComment().contains("token count"))
    intercept[UnsupportedOperationException] {
      SchemaEvolution.evolve(base,
        Seq(TableChange.updateColumnType(Array("n_tok"), LongType)))
    }
  }

  test("evolve: rename keeps the physical name; rename-back drops the alias") {
    val s = SchemaEvolution.evolve(base,
      Seq(TableChange.renameColumn(Array("source"), "origin")))
    assert(s.fieldNames.toSeq == base.fieldNames.toSeq) // physical unchanged
    assert(SchemaEvolution.logicalSchema(s).fieldNames.toSeq ==
      Seq("doc_id", "tokens", "n_tok", "origin"))
    assert(!SchemaEvolution.isIdentity(s))
    val back = SchemaEvolution.evolve(s,
      Seq(TableChange.renameColumn(Array("origin"), "source")))
    assert(SchemaEvolution.isIdentity(back))
  }

  // ----------------------------------------------------- end-to-end SQL

  test("ADD COLUMN: zero-rewrite, old rows null-fill, new rows carry values") {
    withCatalog {
      val loc = tmpDir("evo_add")
      val t = TokenTable.create(spark, loc)
      t.append(rows4(0 until 50))
      val filesBefore = t.filesLocal(t.current).map(_.path).toSet

      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN lang STRING")
      assert(t.current.operation == "alter-schema")
      // Metadata-only: identical data files, no new data dir.
      assert(t.filesLocal(t.current).map(_.path).toSet == filesBefore)
      assert(spark.table(s"graft.`$loc`").columns.toSeq ==
        Seq("doc_id", "tokens", "n_tok", "source", "lang"))

      spark.sql(s"INSERT INTO graft.`$loc` VALUES " +
        "('doc_new_01', array(7, 8, 9), 3, 'crawl', 'en')," +
        "('doc_new_02', array(1), 1, 'crawl', 'de')")
      val df = spark.table(s"graft.`$loc`")
      assert(df.count() == 52)
      assert(df.filter($"lang".isNull).count() == 50) // pre-alter rows
      assert(df.filter($"lang" === "en").select("doc_id").as[String].collect()
        .toSeq == Seq("doc_new_01"))
      // Pushed filter on the added column over mixed files stays correct.
      assert(df.filter($"lang" === "de").count() == 1)

      // Time travel: the pre-alter snapshot still shows 4 columns.
      assert(spark.sql(s"SELECT * FROM graft.`$loc` VERSION AS OF 1")
        .columns.toSeq == Seq("doc_id", "tokens", "n_tok", "source"))
    }
  }

  test("RENAME COLUMN: logical re-label over old files; DML through the new name") {
    withExtensions { s2 =>
      val loc = tmpDir("evo_ren")
      val t = TokenTable.create(s2, loc)
      t.append(rows4(0 until 30, source = "web"))
      s2.sql(s"ALTER TABLE graft.`$loc` RENAME COLUMN source TO origin")
      val df = s2.table(s"graft.`$loc`")
      assert(df.columns.toSeq == Seq("doc_id", "tokens", "n_tok", "origin"))
      // Values written under the physical name read through the logical.
      assert(df.filter(col("origin") === "web").count() == 30)

      // DML addresses the logical name and maps to the physical column.
      s2.sql(s"DELETE FROM graft.`$loc` WHERE origin = 'web' AND n_tok < 2")
      assert(s2.table(s"graft.`$loc`").count() == 30) // n_tok==2 everywhere
      s2.sql(s"UPDATE graft.`$loc` SET origin = 'books' WHERE doc_id < 'doc_000010'")
      val upd = s2.table(s"graft.`$loc`")
      assert(upd.filter(col("origin") === "books").count() == 10)
      assert(upd.filter(col("origin") === "web").count() == 20)

      // INSERT through the logical schema lands in the physical column.
      s2.sql(s"INSERT INTO graft.`$loc` VALUES ('zz_1', array(5), 1, 'manual')")
      assert(s2.table(s"graft.`$loc`")
        .filter(col("origin") === "manual").count() == 1)
    }
  }

  test("RENAME core doc_id: scans, metadata aggregates and MERGE keep working") {
    withExtensions { s2 =>
      val loc = tmpDir("evo_core")
      val t = TokenTable.create(s2, loc)
      t.append(rows4(0 until 40))
      s2.sql(s"ALTER TABLE graft.`$loc` RENAME COLUMN doc_id TO id")
      // Stats-backed aggregate pushdown resolves through the rename map.
      val agg = s2.sql(
        s"SELECT count(id), min(id), max(id), sum(n_tok) FROM graft.`$loc`").head()
      assert(agg == Row(40L, "doc_000000", "doc_000039", 80L))
      // MERGE on the renamed key.
      rows4(35 until 45, source = "merged", s2)
        .withColumnRenamed("doc_id", "id")
        .createOrReplaceTempView("evo_core_src")
      s2.sql(
        s"""MERGE INTO graft.`$loc` t USING evo_core_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val df = s2.table(s"graft.`$loc`")
      assert(df.count() == 45)
      assert(df.filter(col("source") === "merged").count() == 10)
    }
  }

  test("DROP COLUMN: leaves data files; next re-encode sheds the bytes; core is protected") {
    withCatalog {
      val loc = tmpDir("evo_drop")
      val t = TokenTable.create(spark, loc)
      t.append(rows4(0 until 20))
      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN note STRING")
      spark.sql(s"INSERT INTO graft.`$loc` VALUES ('nn_1', array(1), 1, 'web', 'keep me')")
      spark.sql(s"ALTER TABLE graft.`$loc` DROP COLUMN note")
      val df = spark.table(s"graft.`$loc`")
      assert(df.columns.toSeq == Seq("doc_id", "tokens", "n_tok", "source"))
      assert(df.count() == 21)
      intercept[Exception] {
        spark.sql(s"ALTER TABLE graft.`$loc` DROP COLUMN doc_id")
      }
      // Re-adding the same logical name must NOT resurrect dropped data
      // (fresh physical name ⇒ the old bytes are invisible).
      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN note STRING")
      assert(spark.table(s"graft.`$loc`").filter($"note".isNotNull).count() == 0)
    }
  }

  // ------------------------------------- maintenance over evolved tables

  test("compaction over mixed pre/post-ALTER files re-encodes and keeps values") {
    withCatalog {
      val loc = tmpDir("evo_compact")
      val t = TokenTable.create(spark, loc)
      (0 until 3).foreach(c => t.append(rows4(c * 100 until (c + 1) * 100)))
      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN lang STRING")
      (0 until 60).grouped(20).foreach { g =>
        spark.sql(s"INSERT INTO graft.`$loc` VALUES " +
          g.map(i => f"('post_$i%03d', array($i), 1, 'crawl', 'l${i % 3}')").mkString(","))
      }
      val before = spark.table(s"graft.`$loc`")
        .select("doc_id", "n_tok", "lang").collect().toSet

      // Force the bytewise-concat attempt: a bin mixing pre- and
      // post-ALTER parquet schemas must fall back to re-encode (which
      // reads through the evolved schema and null-fills), not corrupt.
      val res = graft.maintain.Compact.run(t, targetBytes = 64L * 1024 * 1024,
        jobId = "evo-compact", parallelism = 8, beforeCommit = () => (),
        rechunk = false, reencodeBelowBytes = 0L)
      assert(res.binsRewritten > 0, "compaction found nothing to do")
      val after = spark.table(s"graft.`$loc`")
        .select("doc_id", "n_tok", "lang").collect().toSet
      assert(after == before)
    }
  }

  test("cluster + update + API merge carry an added column through rewrites") {
    withExtensions { s2 =>
      val loc = tmpDir("evo_maint")
      val t = TokenTable.create(s2, loc)
      t.append(rows4(0 until 80))
      s2.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN score DOUBLE")
      s2.sql(s"UPDATE graft.`$loc` SET score = CAST(n_tok AS DOUBLE) " +
        s"WHERE doc_id >= 'doc_000040'")
      val before = s2.table(s"graft.`$loc`")
        .select("doc_id", "score").collect().toSet
      assert(before.count(_.get(1) != null) == 40)

      graft.maintain.Cluster.run(t, graft.maintain.Cluster.ZOrder, "evo-z",
        targetBytes = 64L * 1024)
      assert(s2.table(s"graft.`$loc`")
        .select("doc_id", "score").collect().toSet == before)

      // API merge whose source has no idea the column exists: existing
      // rows keep nothing (replaced), new rows null-fill — and the
      // rewrite must not drop the column for untouched rows.
      val src = rows4(78 until 85, source = "m", s2)
        .withColumn("p", lit(0L))
      graft.maintain.Merge.mergeInto(t, src, "p", "evo-m")
      val after = s2.table(s"graft.`$loc`")
      assert(after.count() == 85)
      // Rows untouched by the merge keep their score (40..77 = 38 rows);
      // replaced rows 78-79 and inserted 80-84 have none.
      assert(after.filter($"doc_id" < "doc_000040" && $"score".isNull).count() == 40)
      assert(after.filter($"score".isNotNull).count() == 38)
      assert(after.filter($"source" === "m").count() == 7)
      assert(after.filter($"source" === "m" && $"score".isNotNull).count() == 0)
    }
  }

  test("DROP COLUMN bytes are shed by the next re-encode compaction") {
    withCatalog {
      val loc = tmpDir("evo_shed")
      val t = TokenTable.create(spark, loc)
      t.append(rows4(0 until 10))
      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN blob STRING")
      spark.sql(s"INSERT INTO graft.`$loc` VALUES " +
        "('pp_1', array(1), 1, 'web', 'payload')")
      spark.sql(s"ALTER TABLE graft.`$loc` DROP COLUMN blob")
      // Rechunk forces the decode/re-encode path for every bin; the
      // rewrite reads through the post-DROP schema, so the new files'
      // parquet footers no longer contain the dropped physical column.
      graft.maintain.Compact.run(t, targetBytes = 64L * 1024 * 1024,
        jobId = "evo-shed", rechunk = true)
      val conf = spark.sessionState.newHadoopConf()
      t.filesLocal(t.current).foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$loc/${f.path}"), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val names = try r.getFooter.getFileMetaData.getSchema.getFields
          .toArray.map(_.toString).mkString(" ") finally r.close()
        assert(!names.contains("blob"), s"${f.path} still carries: $names")
      }
      assert(spark.table(s"graft.`$loc`").count() == 11)
    }
  }

  test("incremental scanChanges works across an ALTER boundary (metadata-only commit)") {
    withCatalog {
      val loc = tmpDir("evo_inc")
      val t = TokenTable.create(spark, loc)
      t.append(rows4(0 until 10)) // v1
      val v1 = t.currentVersion
      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN lang STRING") // v2
      spark.sql(s"INSERT INTO graft.`$loc` VALUES ('inc_1', array(1), 1, 'web', 'en')") // v3
      // ALTER keeps the parent's manifest list (pure metadata), so the
      // append-only prefix property holds and the delta is exactly the
      // post-ALTER insert — read under the TO-version's evolved schema.
      val delta = t.scanChanges(v1, t.currentVersion)
      assert(delta.count() == 1)
      assert(delta.columns.length == 5)
    }
  }

  test("rollback restores the target's SCHEMA with its files") {
    withCatalog {
      val loc = tmpDir("evo_rb")
      val t = TokenTable.create(spark, loc)
      t.append(rows4(0 until 10)) // v1
      val vBase = t.currentVersion
      spark.sql(s"ALTER TABLE graft.`$loc` ADD COLUMN x INT") // v2
      spark.sql(s"INSERT INTO graft.`$loc` VALUES ('rb_1', array(1), 1, 'web', 42)") // v3
      // Roll back over the ALTER: the phantom column must vanish along
      // with the post-ALTER rows.
      t.rollbackTo(vBase)
      assert(t.logicalSchema.fieldNames.toSeq ==
        Seq("doc_id", "tokens", "n_tok", "source"))
      assert(t.scanLogical().count() == 10)
      // And rolling FORWARD to the evolved version restores the column
      // and its data (nothing was rewritten).
      t.rollbackTo(3)
      assert(t.logicalSchema.fieldNames.contains("x"))
      assert(spark.table(s"graft.`$loc`").filter($"x" === 42).count() == 1)
    }
  }

  test("column comments survive to the user-visible schema; stale names reject after rename") {
    withExtensions { s2 =>
      val loc = tmpDir("evo_cmt")
      val t = TokenTable.create(s2, loc)
      t.append(rows4(0 until 5))
      s2.sql(s"ALTER TABLE graft.`$loc` ALTER COLUMN n_tok COMMENT 'token count'")
      assert(s2.table(s"graft.`$loc`").schema("n_tok").getComment()
        .contains("token count"))
      s2.sql(s"ALTER TABLE graft.`$loc` RENAME COLUMN source TO origin")
      // The comment survives the rename map too.
      assert(s2.table(s"graft.`$loc`").schema("n_tok").getComment()
        .contains("token count"))
      // DML through the STALE storage name must fail like SELECT does,
      // not silently bind to the physical column.
      intercept[Exception] {
        s2.sql(s"DELETE FROM graft.`$loc` WHERE source = 'web'")
      }
      // The new name works.
      s2.sql(s"DELETE FROM graft.`$loc` WHERE origin = 'nope'")
      assert(s2.table(s"graft.`$loc`").count() == 5)
    }
  }

  test("evolve: a new logical name may not shadow another column's storage name") {
    val withAdd = SchemaEvolution.evolve(base,
      Seq(TableChange.addColumn(Array("y"), StringType, true)))
    val physY = withAdd.fields.last.name // y_<uuid8>
    intercept[IllegalArgumentException] {
      SchemaEvolution.evolve(withAdd,
        Seq(TableChange.renameColumn(Array("source"), physY)))
    }
    intercept[IllegalArgumentException] {
      SchemaEvolution.evolve(withAdd,
        Seq(TableChange.addColumn(Array(physY), StringType, true)))
    }
  }

  test("ALTER never rebases a stale schema blob: lost CAS aborts, retry re-evolves") {
    val loc = tmpDir("evo_race")
    val t = TokenTable.create(spark, loc)
    t.append(rows4(0 until 5))
    t.append(rows4(5 until 10))
    // A schema-override commit against a STALE parent must abort (not
    // auto-rebase like a pure append would) — rebasing would clobber
    // whatever the concurrent commit changed.
    val stale = t.snapshotAt(1)
    intercept[CommitConflictException] {
      t.commit(Some(stale), "alter-schema", Nil, stale.manifests, Set.empty,
        maxAttempts = 1, schemaJsonOverride = Some(
          SchemaEvolution.evolve(TokenTable.tokenSchema,
            Seq(TableChange.addColumn(Array("x"), IntegerType, true))).json))
    }
    // And the override path requires the no-rebase contract.
    intercept[IllegalArgumentException] {
      t.commit(Some(t.current), "alter-schema", Nil, t.current.manifests,
        Set.empty, maxAttempts = 5, schemaJsonOverride = Some(base.json))
    }
    // alterSchema's own loop (fresh read each attempt) succeeds.
    t.alterSchema(Seq(TableChange.addColumn(Array("x"), IntegerType, true)))
    assert(t.logicalSchema.fieldNames.contains("x"))
    assert(t.scanLogical().count() == 10)
  }
}
