package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SQL front door for the snapshot table: DELETE/UPDATE/MERGE/VERSION AS
  * OF text routes onto the Scala DML + time-travel API, with predicates
  * and expressions parsed by Spark itself, and the pruneRange hint
  * auto-derived only when provably safe. */
class SnapshotSqlSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): String = {
    val dir = scratch("graft-snapsql")
    val rows = (1L to 100L).map(k =>
      (k, s"n$k", k * 1.0, if (k % 2 == 0) "2024-01" else "2024-02"))
      .toDF("k", "name", "price", "month")
    SnapshotTable.overwriteClustered(spark, dir, rows, "month",
      statsCols = Seq("k"), rangeFiles = 10)
    dir
  }

  private def rowsOf(df: DataFrame): Set[(Long, String, Double, String)] =
    df.select("k", "name", "price", "month").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet

  test("DELETE FROM … WHERE routes to deleteWhere, partCol from table " +
      "metadata, stats-pruned when the WHERE leads with a safe BETWEEN") {
    val dir = fixture()
    val before = SnapshotTable.entriesAt(dir, 1L).map(_._2).toSet
    val r = SnapshotSql.exec(spark,
      s"DELETE FROM snap('$dir') WHERE k BETWEEN 10 AND 20 AND k % 3 = 0")
    assert(r == SnapshotSql.Committed(2L))
    assert(SnapshotTable.read(spark, dir).filter(
      col("k").between(10, 20) && col("k") % 3 === 0).count() == 0)
    assert(SnapshotTable.read(spark, dir).count() == 97) // 12, 15, 18 gone
    // the BETWEEN conjunct derived a pruneRange: some files carried forward
    val after = SnapshotTable.entriesAt(dir, 2L).map(_._2).toSet
    assert(before.intersect(after).nonEmpty,
      "safe BETWEEN must scope the rewrite to overlapping files")
  }

  test("UPDATE … SET … WHERE: expressions see the OLD row; commas inside " +
      "function calls don't split the SET list") {
    val dir = fixture()
    SnapshotSql.exec(spark, s"""
      UPDATE snap('$dir')
      SET price = price + 100,
          name = concat('was-', cast(price as bigint))
      WHERE k <= 3""")
    val got = SnapshotTable.read(spark, dir).filter(col("k") <= 4)
      .orderBy("k").select("k", "name", "price")
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "was-1", 101.0), (2L, "was-2", 102.0),
      (3L, "was-3", 103.0), (4L, "n4", 4.0)))
  }

  test("SELECT … VERSION AS OF reads time travel; two refs at different " +
      "versions join in one statement") {
    val dir = fixture()
    SnapshotSql.exec(spark, s"DELETE FROM snap('$dir') WHERE k BETWEEN 1 AND 50")
    val live = SnapshotSql.exec(spark,
      s"SELECT count(*) AS n FROM snap('$dir')") match {
      case SnapshotSql.Rows(df) => df.as[Long].head()
      case other => fail(s"expected rows, got $other")
    }
    assert(live == 50L)
    val v1 = SnapshotSql.exec(spark,
      s"SELECT count(*) AS n FROM snap('$dir') VERSION AS OF 1") match {
      case SnapshotSql.Rows(df) => df.as[Long].head()
      case other => fail(s"expected rows, got $other")
    }
    assert(v1 == 100L)
    // cross-version join: the deleted keys, computed in SQL
    val deleted = SnapshotSql.exec(spark, s"""
      SELECT a.k FROM snap('$dir') VERSION AS OF 1 a
      LEFT ANTI JOIN snap('$dir') b ON a.k = b.k""") match {
      case SnapshotSql.Rows(df) => df.as[Long].collect().toSet
      case other => fail(s"expected rows, got $other")
    }
    assert(deleted == (1L to 50L).toSet)
  }

  test("MERGE INTO … USING (subquery) KEY/VERSION/TOMBSTONE routes to the " +
      "retrying upsert: update + tombstone + insert in one statement") {
    // the CDC contract: the table carries the version/tombstone columns
    val dir = scratch("graft-snapsql-cdc")
    val base = (1L to 100L).map(k =>
      (k, s"n$k", k * 1.0, if (k % 2 == 0) "2024-01" else "2024-02",
        0L, false))
      .toDF("k", "name", "price", "month", "v", "del")
    SnapshotTable.overwrite(spark, dir, base, "month")
    Seq((1L, "one!", 111.0, "2024-02", 1L, false),   // update (k odd → 2024-02)
      (2L, "x", 0.0, "2024-01", 1L, true),           // tombstone
      (999L, "new", 9.0, "2024-09", 1L, false))      // insert, new partition
      .toDF("k", "name", "price", "month", "v", "del")
      .createOrReplaceTempView("cdc_batch")
    val r = SnapshotSql.exec(spark, s"""
      MERGE INTO snap('$dir')
      USING (SELECT k, name, price, month, v, del FROM cdc_batch)
      KEY (k) VERSION v TOMBSTONE del""")
    assert(r == SnapshotSql.Committed(2L))
    val got = rowsOf(SnapshotTable.read(spark, dir))
    assert(got.contains((1L, "one!", 111.0, "2024-02")))
    assert(!got.exists(_._1 == 2L))
    assert(got.contains((999L, "new", 9.0, "2024-09")))
    assert(got.size == 100) // 100 - 1 tombstone + 1 insert
  }

  test("pruneRange derivation is safe-by-construction: NOT/OR shapes and " +
      "unstatted columns fall back to the full-candidate rewrite") {
    val dir = fixture()
    // NOT around the band: matched rows live OUTSIDE it — must not prune
    assert(SnapshotSql.derivePruneRange(dir,
      "NOT (k BETWEEN 10 AND 20)").isEmpty)
    // band under an OR: matches escape the band — must not prune
    assert(SnapshotSql.derivePruneRange(dir,
      "k BETWEEN 10 AND 20 OR name = 'n99'").isEmpty)
    // column without manifest stats: pruning buys nothing
    assert(SnapshotSql.derivePruneRange(dir,
      "price BETWEEN 10 AND 20").isEmpty)
    // a top-level OR ANYWHERE in the tail: SQL precedence makes the whole
    // clause a disjunction — matched rows escape the band, so pruning
    // would let a carried-forward file keep rows the DELETE must remove
    assert(SnapshotSql.derivePruneRange(dir,
      "k BETWEEN 10 AND 20 AND name = 'n1' OR name = 'n99'").isEmpty)
    // ...but a PARENTHESIZED or inside a conjunct stays a conjunction
    assert(SnapshotSql.derivePruneRange(dir,
      "k BETWEEN 10 AND 20 AND (name = 'n1' OR name = 'n2')")
      == Some(("k", 10L, 20L)))
    // the safe shapes derive
    assert(SnapshotSql.derivePruneRange(dir,
      "k BETWEEN 10 AND 20") == Some(("k", 10L, 20L)))
    assert(SnapshotSql.derivePruneRange(dir,
      "k BETWEEN 10 AND 20 AND name <> 'n12'") == Some(("k", 10L, 20L)))
    // end-to-end: the disjunctive DELETE removes the out-of-band match
    // (a band-derived pruneRange would have silently kept it)
    val dirOr = fixture()
    SnapshotSql.exec(spark, s"DELETE FROM snap('$dirOr') " +
      "WHERE k BETWEEN 10 AND 20 AND name = 'n10' OR name = 'n99'")
    val left = SnapshotTable.read(spark, dirOr).select("k").as[Long]
      .collect().toSet
    assert(!left.contains(10L) && !left.contains(99L),
      "both disjuncts must delete — in-band AND-match and out-of-band OR-match")
    assert(left.size == 98)
    // and the NOT shape still deletes CORRECTLY (everything outside)
    SnapshotSql.exec(spark,
      s"DELETE FROM snap('$dir') WHERE NOT (k BETWEEN 10 AND 20)")
    assert(SnapshotTable.read(spark, dir).select("k").as[Long]
      .collect().toSet == (10L to 20L).toSet)
  }

  test("maintenance verbs: RESTORE TO VERSION AS OF, OPTIMIZE MINBYTES, " +
      "VACUUM KEEP and DESCRIBE HISTORY route onto the table API") {
    val dir = fixture()
    SnapshotSql.exec(spark, s"DELETE FROM snap('$dir') WHERE k <= 50")
    assert(SnapshotTable.read(spark, dir).count() == 50)
    val r = SnapshotSql.exec(spark,
      s"RESTORE snap('$dir') TO VERSION AS OF 1")
    assert(r == SnapshotSql.Committed(3L))
    assert(SnapshotTable.read(spark, dir).count() == 100)
    SnapshotSql.exec(spark, s"OPTIMIZE snap('$dir') MINBYTES ${1L << 20}")
    assert(SnapshotTable.read(spark, dir).count() == 100)
    val hist = SnapshotSql.exec(spark,
      s"DESCRIBE HISTORY snap('$dir')") match {
      case SnapshotSql.Rows(df) =>
        df.select("version", "operation").collect()
          .map(r0 => (r0.getLong(0), r0.getString(1))).toSeq
      case other => fail(s"expected rows, got $other")
    }
    assert(hist == Seq((4L, "optimize"), (3L, "restore"), (2L, "delete"),
      (1L, "overwrite")))
    SnapshotSql.exec(spark, s"VACUUM snap('$dir') KEEP 1")
    val hist2 = SnapshotSql.exec(spark,
      s"DESCRIBE HISTORY snap('$dir')") match {
      case SnapshotSql.Rows(df) => df.select("version")
        .collect().map(_.getLong(0)).toSeq
      case other => fail(s"expected rows, got $other")
    }
    assert(hist2 == Seq(4L))
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  test("INSERT INTO … SELECT appends: old files carried by entry with " +
      "their stats, column order conformed, schema mismatch rejected") {
    val dir = fixture()
    val before = SnapshotTable.entriesAt(dir, 1L).map(_._2).toSet
    val statsBefore = SnapshotTable.typedStatsAt(dir, 1L)
    (101L to 120L).map(k => (k, s"n$k", k * 1.0, "2024-03"))
      .toDF("k", "name", "price", "month")
      .createOrReplaceTempView("ins_batch")
    // column order scrambled on purpose — names are the contract
    val r = SnapshotSql.exec(spark, s"INSERT INTO snap('$dir') " +
      "SELECT month, price, name, k FROM ins_batch")
    assert(r == SnapshotSql.Committed(2L))
    assert(SnapshotTable.read(spark, dir).count() == 120)
    assert(rowsOf(SnapshotTable.read(spark, dir).filter(col("k") > 100L))
      == (101L to 120L).map(k => (k, s"n$k", k * 1.0, "2024-03")).toSet)
    // append NEVER rewrites: every old file carried, stats intact
    val after = SnapshotTable.entriesAt(dir, 2L).map(_._2).toSet
    assert(before.subsetOf(after))
    before.foreach(f =>
      assert(SnapshotTable.typedStatsAt(dir, 2L).get(f) == statsBefore.get(f)))
    assert(SnapshotTable.opAt(dir, 2L).contains("insert"))
    // a SELECT from another snapshot table works as the source
    SnapshotSql.exec(spark, s"INSERT INTO snap('$dir') " +
      s"SELECT k + 1000 AS k, name, price, month FROM snap('$dir') " +
      "VERSION AS OF 1 WHERE k <= 5")
    assert(SnapshotTable.read(spark, dir).count() == 125)
    // schema mismatch: missing and invented columns are rejected loudly
    val exMissing = intercept[IllegalArgumentException] {
      SnapshotSql.exec(spark, s"INSERT INTO snap('$dir') " +
        "SELECT k, name, price FROM ins_batch")
    }
    assert(exMissing.getMessage.contains("missing: month"))
    val exExtra = intercept[IllegalArgumentException] {
      SnapshotSql.exec(spark, s"INSERT INTO snap('$dir') " +
        "SELECT k, name, price, month, 1 AS bogus FROM ins_batch")
    }
    assert(exExtra.getMessage.contains("unexpected: bogus"))
    // INSERT into a never-created table is a create, not an append
    val empty = scratch("graft-snapsql-empty")
    val exEmpty = intercept[IllegalArgumentException] {
      SnapshotSql.exec(spark, s"INSERT INTO snap('$empty') " +
        "SELECT k, name, price, month FROM ins_batch")
    }
    assert(exEmpty.getMessage.contains("no committed version"))
  }

  test("snap('…') inside a string LITERAL is query text, not a table " +
      "reference — the rewrite is quote-aware") {
    val dir = fixture()
    // the literal's content must survive verbatim; a quote-blind rewrite
    // would splice a temp-view name into the middle of the string
    val got = SnapshotSql.exec(spark,
      s"SELECT concat(name, ' likes snap(', 'x', ')') AS t " +
        s"FROM snap('$dir') WHERE k = 1") match {
      case SnapshotSql.Rows(df) => df.as[String].head()
      case other => fail(s"expected rows, got $other")
    }
    assert(got == "n1 likes snap(x)")
    // the ADVICE shape: a cross-literal false match `snap(' … ')` formed
    // by two adjacent literals must not be rewritten either
    val got2 = SnapshotSql.exec(spark,
      s"SELECT count(*) AS n FROM snap('$dir') " +
        "WHERE name = 'snap(' OR name = ')'") match {
      case SnapshotSql.Rows(df) => df.as[Long].head()
      case other => fail(s"expected rows, got $other")
    }
    assert(got2 == 0L)
  }

  test("guardrails: DELETE without WHERE refuses; unknown verb refuses; " +
      "a pre-#partcol table demands the Scala API") {
    val dir = fixture()
    intercept[IllegalArgumentException] {
      SnapshotSql.exec(spark, s"DELETE FROM snap('$dir')")
    }
    intercept[IllegalArgumentException] {
      SnapshotSql.exec(spark, s"TRUNCATE snap('$dir')")
    }
    // a manifest without the partcol header (hand-built entries commit)
    val dir2 = scratch("graft-snapsql-old")
    val rows = Seq((1L, "a", "p1")).toDF("k", "name", "p")
    val staged = SnapshotTable.stageBatch(rows, dir2, "p",
      SnapshotTable.newBatchTag(1L))
    SnapshotTable.casCommit(dir2, 0L, staged, schema = Some(rows.schema))
    val ex = intercept[IllegalArgumentException] {
      SnapshotSql.exec(spark, s"DELETE FROM snap('$dir2') WHERE k = 1")
    }
    assert(ex.getMessage.contains("partition column"))
  }
}
