package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.CatalogTableType

/** Table protect mode + TOUCH (the last §2.11 ALTER variants: Hive.g:658
  * TOK_ALTERTABLE_TOUCH, :750 alterStatementSuffixProtectMode with
  * TOK_OFFLINE/TOK_NO_DROP):
  *
  *  - `ALTER TABLE t ENABLE NO_DROP` protects a table from DROP — the
  *    reference's DDLTask.dropTable check ("... is protected from being
  *    dropped", DDLTask.java:2998); DISABLE lifts it.
  *  - `ALTER TABLE t ENABLE OFFLINE` takes a table out of query service —
  *    any statement referencing it fails with the reference's
  *    ErrorMsg.OFFLINE_TABLE_OR_PARTITION ("Query against an offline
  *    table or partition", ErrorMsg.java:172); DISABLE restores it.
  *  - `ALTER TABLE t TOUCH` bumps the table's DDL time
  *    (`transient_lastDdlTime`, the property Hive's touch updates) —
  *    its purpose in the reference is firing pre/post hooks on otherwise
  *    unchanged tables.
  *
  * Mode state is JVM-scoped like the rest of the metadata surface;
  * enforcement sits in the one statement path, the injected
  * [[plans.HiveDialectParser]] (the same place the reference checks,
  * Driver/DDLTask), plus a DROP TABLE intercept in the statement dispatch.
  */
object Protect {

  private val modes = TrieMap.empty[String, (Boolean, Boolean)] // (noDrop, offline)

  // ---- durable flags (VERDICT r10 #4): the reference stores PROTECT_MODE
  // in TABLE_PARAMS; these snapshots reload on first use per JVM and
  // re-persist on mutation, so NO_DROP/OFFLINE survive a restart
  private implicit val modeEnc: org.apache.spark.sql.Encoder[ModeRow] =
    org.apache.spark.sql.Encoders.product[ModeRow]
  private val metaLoaded = new java.util.concurrent.atomic.AtomicBoolean(false)

  // Double-checked under the lock, flag set only AFTER the load completes
  // (ADVICE r11): a CAS-first flip let a concurrent first-touch thread
  // proceed against a still-empty registry — checkDrop could approve
  // dropping a NO_DROP table inside the load window (fail-open).
  private[graft] def ensureLoaded(spark: SparkSession): Unit =
    if (!metaLoaded.get) synchronized {
      if (!metaLoaded.get) {
        MetaPersist.load[ModeRow](spark, "protect").foreach(_.foreach(m =>
          modes.putIfAbsent(m.table, (m.noDrop, m.offline))))
        metaLoaded.set(true)
      }
    }

  // full-store rewrite — RESET only; setModeKeyed/clearTable append
  // row-level deltas to the MetaPersist log
  private def overwriteAll(spark: SparkSession): Unit = synchronized {
    MetaPersist.overwrite(spark, "protect",
      modes.toSeq.sortBy(_._1).map { case (t, (n, o)) => ModeRow(t, n, o) })
  }

  /** Restart simulation for specs: forget in-memory state so the next
    * access reloads the persisted snapshot, as a fresh JVM would.
    */
  private[graft] def forgetInMemory(): Unit = {
    modes.clear()
    metaLoaded.set(false)
  }

  def reset(): Unit = {
    modes.clear()
    metaLoaded.set(true) // a reset sticks; see Authz.reset
  }

  /** As [[reset]], and clears the persisted snapshot too (ADVICE r11: a
    * NO_DROP flag persisted in one JVM otherwise resurrects in the next
    * JVM's first ensureLoaded against the same warehouse, failing
    * unrelated DROP TABLE statements across runs). Mirrors
    * [[Authz.reset(spark*]].
    */
  def reset(spark: SparkSession): Unit = {
    reset()
    overwriteAll(spark)
  }

  private def key(t: String): String = t.toLowerCase

  /** Partition-scoped protect key: `table@p=p1` with quotes/spaces
    * stripped, so the ENABLE spec and the later DROP spec normalize
    * identically (protectmode.q's partition toggles). */
  private[graft] def partKey(table: String, spec: String): String =
    key(table) + "@" + spec.toLowerCase.replaceAll("""[\s'"]""", "")

  def setMode(spark: SparkSession, table: String, enable: Boolean,
      mode: String): Unit =
    setModeKeyed(spark, key(table), enable, mode)

  def setModePartition(spark: SparkSession, table: String, spec: String,
      enable: Boolean, mode: String): Unit =
    setModeKeyed(spark, partKey(table, spec), enable, mode)

  private def setModeKeyed(spark: SparkSession, table: String, enable: Boolean,
      mode: String): Unit = {
    ensureLoaded(spark)
    val (noDrop, offline) = modes.getOrElse(key(table), (false, false))
    val next = mode.trim.toUpperCase match {
      case "NO_DROP" => (enable, offline)
      case "OFFLINE" => (noDrop, enable)
      case other => throw new IllegalArgumentException(s"bad protect mode $other")
    }
    if (next == ((false, false))) {
      modes.remove(key(table))
      MetaPersist.appendDelete(spark, "protect",
        ModeRow(key(table), noDrop = false, offline = false))
    } else {
      modes.put(key(table), next)
      MetaPersist.append(spark, "protect", ModeRow(key(table), next._1, next._2))
    }
  }

  /** Remove every protect entry for a dropped table (table-level AND its
    * partition-scoped keys). The reference stores protect modes in table/
    * partition PROPERTIES, so they vanish with the object — the engine's
    * side store must follow or a re-created table would inherit stale
    * protection. Called from the DROP TABLE post-step.
    */
  def clearTable(spark: SparkSession, table: String): Unit = synchronized {
    ensureLoaded(spark)
    val k = key(table)
    val stale = modes.keySet.toSeq.filter(e => e == k || e.startsWith(k + "@"))
    stale.foreach { e =>
      modes.remove(e)
      MetaPersist.appendDelete(spark, "protect",
        ModeRow(e, noDrop = false, offline = false))
    }
  }

  def isNoDrop(table: String): Boolean =
    modes.get(key(table)).exists(_._1)

  def isOffline(table: String): Boolean =
    modes.get(key(table)).exists(_._2)

  /** DDLTask.dropTable's protect check (DDLTask.java:2995-3010). */
  def checkDrop(spark: SparkSession, table: String): Unit = {
    ensureLoaded(spark)
    if (isNoDrop(table))
      throw new IllegalStateException(
        s"Table $table is protected from being dropped")
  }

  /** ErrorMsg.OFFLINE_TABLE_OR_PARTITION for any statement referencing an
    * offline table (checked in the driver layer like the reference).
    */
  private val DropPartitionStmt =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:IF\s+EXISTS\s+)?PARTITION\s*\(([^)]*)\)""".r

  def checkStatement(spark: SparkSession, stmt: String, refs: plans.StatementRefs): Unit = {
    ensureLoaded(spark)
    // partition-level NO_DROP (DDLTask.dropPartition's protect check)
    DropPartitionStmt.findFirstMatchIn(stmt).foreach { m =>
      val t = m.group(1).split('.').last
      if (isNoDrop(partKey(t, m.group(2))))
        throw new IllegalStateException(
          s"Partition ${m.group(2)} of table $t is protected from being dropped")
    }
    if (modes.isEmpty || !modes.values.exists(_._2)) return
    val tables = (refs.reads ++ refs.writeTables).map(_.table.toLowerCase).toSet
    tables.find(isOffline).foreach { t =>
      throw new IllegalStateException(
        s"Query against an offline table or partition: $t")
    }
    // partition-scoped OFFLINE (protectmode_part/part1/part2.q): block a
    // statement that reads or writes the offline partition — either it
    // names the spec (normalized text match, same canon as partKey), or
    // it doesn't constrain the partition column at all (a whole-table
    // read INCLUDES the offline partition, the reference's
    // PartitionPruner outcome). A statement pinned to OTHER values of
    // the column passes.
    // quotes stripped and `=` tightened, but OTHER whitespace kept — a
    // token boundary must survive normalization so `other_ds='x'` cannot
    // read as a constraint on partition column `ds`
    val norm = stmt.toLowerCase.replaceAll("""['"]""", "")
      .replaceAll("""\s*=\s*""", "=")
    modes.toSeq.collect { case (k, (_, true)) if k.contains("@") => k }
      .foreach { k =>
        val Array(t, spec) = k.split("@", 2)
        if (tables(t)) {
          val partCol = spec.takeWhile(_ != '=')
          // token boundary before the column name: `other_ds='x'` must not
          // count as constraining partition column `ds`
          def bounded(needle: String) =
            ("(^|[^a-z0-9_])" + java.util.regex.Pattern.quote(needle)).r
              .findFirstIn(norm).isDefined
          if (bounded(spec) || !bounded(partCol + "="))
            throw new IllegalStateException(
              s"Query against an offline table or partition: " +
                s"Table $t Partition $spec")
        }
      }
  }

  /** LOAD-target protect check (LOAD never reaches the parser-based
    * statement walk): table-level OFFLINE, or the targeted partition's
    * own OFFLINE flag (protectmode_part2.q).
    */
  def checkLoadTarget(spark: SparkSession, table: String,
      specText: Option[String]): Unit = {
    ensureLoaded(spark)
    val t = table.split('.').last
    if (isOffline(t))
      throw new IllegalStateException(
        s"Query against an offline table or partition: $t")
    specText.foreach { sp =>
      if (isOffline(partKey(t, sp)))
        throw new IllegalStateException(
          s"Query against an offline table or partition: Table $t Partition " +
            sp.toLowerCase.replaceAll("""[\s'"]""", ""))
    }
  }

  /** `ALTER TABLE t TOUCH`: bump transient_lastDdlTime (what the
    * reference's touch persists; hook-firing is its other half — our
    * exec hooks ride QueryExecutionListener, operators/Observed).
    */
  def touch(spark: SparkSession, table: String): Unit =
    setDdlTime(spark, table)(_ => System.currentTimeMillis() / 1000)

  /** Sets transient_lastDdlTime to `next` of its current value (0 if
    * unset), for TOUCH and the INSERT refresh (HiveQl.bumpInsertTargets):
    * one metastore read and write, then the cache invalidation ALTER TABLE
    * SET TBLPROPERTIES does (that command makes six serialized calls). */
  def setDdlTime(spark: SparkSession, table: String)(next: Long => Long): Unit = {
    val cat = spark.sessionState.catalog
    val ti = cat.qualifyIdentifier(spark.sessionState.sqlParser.parseTableIdentifier(table))
    val raw = cat.externalCatalog.getTable(ti.database.get, ti.table)
    require(raw.tableType != CatalogTableType.VIEW,
      s"$table is a view: ALTER TABLE does not apply to views")
    val prev = raw.properties.get("transient_lastDdlTime").flatMap(_.trim.toLongOption)
      .getOrElse(0L)
    cat.externalCatalog.alterTable(raw.copy(properties =
      raw.properties + ("transient_lastDdlTime" -> next(prev).toString)))
    cat.invalidateCachedTable(ti)
  }
}
