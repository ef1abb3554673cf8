package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join strategies for scale: skew salting and bucketed co-location.
  *
  * At 100 TB the two failure modes of a plain equi-join are (a) one hot
  * key landing an entire shuffle partition on one task and (b) re-shuffling
  * a table that is joined on the same key every day. Salting fixes (a)
  * without touching semantics; bucketing fixes (b) at write time. */
object Joins {

  /** Salted equi-join against a (broadcast-able or replicated) build side:
    * the probe side gets a deterministic per-row salt in [0, salts); the
    * build side is replicated once per salt value, so a hot key's rows
    * spread over `salts` shuffle partitions instead of one straggler task.
    *
    * The salt derives from a row hash, not `rand()` — plans stay
    * deterministic and re-executable (a task retry computes the same
    * salt). Results are identical to the unsalted join. */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    // Build-side replication is only sound for probe-preserving joins: a
    // right/full join would emit every unmatched build row once per salt.
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti",
      "semi", "anti", "cross")
      .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports probe-preserving join types only, not $joinType")
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.map(col): _*), lit(salts.toLong)))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** AS-OF JOIN: every left row paired with the LATEST right row whose
    * timestamp is <= the left row's, per join key — the time-series join
    * behind point-in-time-correct feature lookup (a feature value is
    * visible from its own timestamp forward, never backward: the join
    * that prevents label leakage in training-data assembly). Spark has
    * no native form; the naive encodings are a range join (O(n·m)
    * nested-loop pair space) or a per-row subquery.
    *
    * This is the one-table case of the [[asOfTables]] kernel: ONE
    * shuffle keyed on the join key, zero pair explosion, linear in rows.
    * At equal timestamps the right row is visible to the left row (the
    * `>=` convention, matching DuckDB's native ASOF JOIN, which is the
    * oracle).
    *
    * Output: every left column, then each right value column, then
    * `asof_ts` (the matched right timestamp) — all NULL when no right
    * row precedes. `toleranceSec` voids matches older than
    * `leftTs − tolerance` (stale features must not leak forward
    * indefinitely). Contract: right must be UNIQUE per (keys, rightTs) —
    * pre-aggregate otherwise (equal-key-and-ts right rows have no
    * deterministic winner); pass `checkUnique = true` to enforce that
    * precondition with one extra aggregate pass that fails loud naming
    * the duplicated (keys, ts) groups. Output column names must not
    * collide. */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String,
      toleranceSec: Option[Long] = None,
      checkUnique: Boolean = false): DataFrame =
    asOfTables("asOfJoin", left, keys, leftTs,
      Seq(AsOfSide("right", right, rightTs, "")), toleranceSec, checkUnique)

  /** One feature table of [[asOfTables]]: `name` labels it in errors;
    * its value columns (every column but the keys and `ts`) come out as
    * `<prefix><col>`, beside `<prefix>asof_ts`. */
  private[graft] case class AsOfSide(name: String, table: DataFrame,
      ts: String, prefix: String)

  /** The as-of kernel behind [[asOfJoin]], [[pointInTimeTrainingSet]] and
    * `FeaturePrep.pointInTimeMatrix`: the labels and every feature table
    * are tagged and unioned, then ONE exchange and sort on the keys,
    * ordered by (ts, side), feed ONE window that carries
    * `last(payload_i, ignoreNulls)` for each table i. A table's payload is
    * a struct of its value columns and its own timestamp, non-null only
    * on that table's rows, so:
    *  - the order of different tables' rows at one timestamp is
    *    irrelevant, and a table row sorts before a label at the same
    *    timestamp (the `>=` convention);
    *  - a NULL inside the matched row stays NULL instead of being
    *    backfilled from an older row, every column of one table comes
    *    from the SAME row, and tolerance judges the timestamp of that row.
    *
    * NULL join keys never match (equi-join and DuckDB ASOF semantics),
    * so null-key table rows are dropped, as are NULL-timestamp table
    * rows: they would sort FIRST and be carried into labels that have no
    * real preceding row. Labels are never dropped. Output: keys, the
    * label timestamp (as a timestamp), the other label columns, then per
    * table its value columns and its matched timestamp. Every output name
    * must be unique (so duplicate prefixes fail too) and none may be a
    * scratch name; a clash fails loud before any plan is built, naming
    * the column and its owners. */
  private[graft] def asOfTables(who: String, labels: DataFrame,
      keys: Seq[String], labelTs: String, sides: Seq[AsOfSide],
      toleranceSec: Option[Long], checkUnique: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    require(keys.nonEmpty, s"$who needs at least one join key")
    require(sides.nonEmpty, s"$who: no feature tables")
    val vals = sides.map(s =>
      s.table.columns.toSeq.filterNot(c => keys.contains(c) || c == s.ts))
    val outs = sides.zip(vals).map { case (s, v) =>
      (v :+ "asof_ts").map(s.prefix + _) }
    val rp = sides.indices.map(i => s"__rp$i")
    val reserved = Set("__ts", "__side") ++ rp
    val owners = labels.columns.toSeq.map(_ -> "labels") ++
      sides.zip(outs).flatMap { case (s, o) => o.map(_ -> s.name) }
    val clashes = owners.groupBy(_._1).toSeq.sortBy(_._1).collect {
      case (c, os) if os.size > 1 || reserved(c) =>
        s"$c (${os.map(_._2).mkString(", ")})"
    }
    require(clashes.isEmpty, s"$who column collision: " +
      clashes.mkString("; ") + s" — rename (${reserved.mkString("/")} " +
      "are scratch names)")
    val leftOther = labels.columns.toSeq.filterNot(c =>
      keys.contains(c) || c == labelTs)
    // payload fields are positional (v0, v1, …, ts), so no value column
    // name can clash inside the struct
    val fields = vals.map(v => v.indices.map(j => s"v$j") :+ "ts")
    val payload = sides.indices.map(i => StructType(fields(i).zip(
      vals(i).map(sides(i).table.schema(_).dataType) :+ TimestampType)
      .map { case (f, t) => StructField(f, t) }))
    def nullPayload(i: Int) = lit(null).cast(payload(i)).as(rp(i))
    val l = labels.select(
      (keys.map(col) :+ col(labelTs).cast("timestamp").as("__ts") :+
        lit(1).as("__side")) ++ rp.indices.map(nullPayload) ++
        leftOther.map(col): _*)
    val rs = sides.zipWithIndex.map { case (s, i) =>
      val ts = col(s.ts).cast("timestamp")
      val mine = struct((vals(i).map(col) :+ ts).zip(fields(i))
        .map { case (c, f) => c.as(f) }: _*).as(rp(i))
      s.table.filter((keys.map(col(_).isNotNull) :+ ts.isNotNull).reduce(_ && _))
        .select((keys.map(col) :+ ts.as("__ts") :+ lit(0).as("__side")) ++
          rp.indices.map(j => if (j == i) mine else nullPayload(j)) ++
          leftOther.map(c => lit(null).cast(labels.schema(c).dataType).as(c)): _*)
    }
    if (checkUnique) {
      // one aggregate over every table's rows, tagged by position; only
      // runs on request — the count is an extra job
      val dups = rs.zipWithIndex
        .map { case (r, i) => r.select(lit(i).as("__t") +: (keys :+ "__ts").map(col): _*) }
        .reduce(_ unionByName _)
        .groupBy(("__t" +: keys :+ "__ts").map(col): _*)
        .count().filter(col("count") > 1).limit(5).collect()
      require(dups.isEmpty,
        s"$who: duplicate (keys, ts) groups — no deterministic winner; " +
          "pre-aggregate first. First offenders: " + dups.map(r =>
            sides(r.getInt(0)).name + r.toSeq.tail.mkString(" (", ",", ")"))
            .mkString("; "))
    }
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (l +: rs).reduce(_ unionByName _).withColumns(
      rp.map(p => p -> last(col(p), ignoreNulls = true).over(w)).toMap)
    val features = sides.indices.flatMap { i =>
      val stale = toleranceSec.map(t => col(rp(i)).getField("ts") <
        col("__ts") - expr(s"INTERVAL $t SECONDS")).getOrElse(lit(false))
      val keep = when(stale, lit(null).cast(payload(i))).otherwise(col(rp(i)))
      fields(i).zip(outs(i)).map { case (f, c) => keep.getField(f).as(c) }
    }
    carried.filter(col("__side") === 1)
      .select((keys.map(col) :+ col("__ts").as(labelTs)) ++
        leftOther.map(col) ++ features: _*)
  }

  /** F24: POINT-IN-TIME TRAINING SET — the feature-store flagship: a
    * label table (entity, label ts) picks up, from EVERY feature
    * table, the latest feature row at or before the label timestamp.
    * This is the operation that makes offline training sets
    * leakage-free by construction: a feature row with ts AFTER the
    * label can never be selected (the as-of window only looks
    * backward), and `toleranceSec` additionally voids features staler
    * than the horizon, so silently-dead feature pipelines surface as
    * NULLs instead of stale values.
    *
    * Column hygiene: every feature table's value columns (and its
    * `asof_ts`) are prefixed `<name>_`, so any number of single-column
    * or wide feature tables compose without collisions; duplicate
    * prefixes, and prefixed names that clash with a label column, fail
    * loud.
    *
    * Scale: one [[asOfTables]] pass for all k tables — ONE entity-keyed
    * exchange and sort of labels ∪ every feature table, and one window
    * (never a per-label range probe, never a re-shuffle of the labels
    * per table); feature tables are touched once each. */
  def pointInTimeTrainingSet(labels: DataFrame,
      features: Seq[(String, DataFrame)], keys: Seq[String],
      labelTs: String, featureTs: String,
      toleranceSec: Option[Long] = None): DataFrame = {
    features.foreach(f => require(f._1.nonEmpty,
      "pointInTimeTrainingSet: empty feature prefix"))
    asOfTables("pointInTimeTrainingSet", labels, keys, labelTs,
      features.map { case (n, df) => AsOfSide(n, df, featureTs, s"${n}_") },
      toleranceSec, checkUnique = false)
  }

  /** Write both sides bucketed on the join key so subsequent joins are
    * exchange-free: `bucketBy` hashes rows into `buckets` files per
    * partition at WRITE time; a later join of two tables bucketed on the
    * same key with the same bucket count reads co-located buckets and
    * skips the shuffle entirely. Returns the catalog table names. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
      buckets: Int): String = {
    val spark = df.sparkSession
    // clear both the catalog entry and any stale warehouse location
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    table
  }

  /** Pre-join cardinality/skew audit: the exact output size an equi-join
    * WOULD produce, per key — `|A ⋈ B| = Σ_k f_A(k)·f_B(k)` — plus each
    * key's share of the total, for the top `topK` contributors. This is
    * the check a 100 TB pipeline runs BEFORE paying for a join whose
    * fan-out it cannot predict: two map-side-combined key-count
    * aggregates and a join of the two count tables (distinct-key-sized,
    * orders of magnitude smaller than the data join), never the join
    * itself. A key with share ≳ 1/shufflePartitions is the straggler
    * [[saltedJoin]] exists for.
    *
    * All-integer arithmetic; ties rank by key so output is total-ordered
    * and engine-exact. */
  def joinCardinalityAudit(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val fa = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("key")).agg(count(lit(1)).as("n_left"))
    val fb = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("key")).agg(count(lit(1)).as("n_right"))
    val per = fa.join(fb, "key")
      .withColumn("join_rows", col("n_left") * col("n_right"))
    val tot = per.agg(sum(col("join_rows")).as("__t"))
    per.crossJoin(broadcast(tot))
      .select(col("key"), col("n_left"), col("n_right"), col("join_rows"),
        graft.functions.q6(col("join_rows").cast("double") / col("__t"))
          .as("share"))
      .orderBy(col("join_rows").desc, col("key"))
      .limit(topK)
  }
}
