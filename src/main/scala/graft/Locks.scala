package graft

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** Concurrency locking (closes the §7.5 ZooKeeper-locking drop): the
  * reference's lock SEMANTICS — shared read locks, exclusive write locks,
  * all-or-nothing sorted acquisition with retries, explicit LOCK/UNLOCK
  * TABLE, SHOW LOCKS — behind the reference's own pluggable-manager
  * contract (`lockmgr/HiveLockManager.java` is an interface precisely so
  * deployments can swap the coordination substrate;
  * `hive.lock.manager` names the impl class).
  *
  * [[LocalLockManager]] is the in-process implementation standing in for
  * `ZooKeeperHiveLockManager`: same conflict matrix (EXCLUSIVE conflicts
  * with everything held by another session; SHARED coexists with SHARED),
  * same all-or-nothing `lock(List)` over a name-sorted list (ZooKeeper
  * HiveLockManager.java sorts to avoid deadlock), same retry loop driven
  * by `hive.lock.numretries` / `hive.lock.sleep.between.retries`
  * (Driver.java:768-769). On a multi-driver cluster the same statement
  * surface runs against a coordination-service-backed [[LockManager]];
  * the in-JVM one covers every session in this process (CLI + Thrift
  * sessions share it, like HiveServer sessions sharing one ZK ensemble).
  *
  * Implicit statement-scoped locking (Driver.acquireReadWriteLocks,
  * Driver.java:763-840): when `hive.support.concurrency` is true (default
  * false — HiveConf.java HIVE_SUPPORT_CONCURRENCY), each statement takes
  * SHARED locks on its inputs, EXCLUSIVE on its insert targets, SHARED on
  * the current database, holds them for the statement, and releases them
  * in a finally — [[withStatementLocks]], wired into the CLI driver loop
  * ([[GraftSql.process]], the Driver.run analogue). Partition-granular
  * locks are not modeled (tables are the unit here; the reference locks
  * partitions plus their parents).
  */
object Locks {

  sealed abstract class Mode(val name: String)
  case object Shared extends Mode("SHARED")
  case object Exclusive extends Mode("EXCLUSIVE")

  /** HiveLockObjectData (lockmgr/HiveLockObject.java): queryId : lockTime
    * : lockMode, shown by SHOW LOCKS EXTENDED.
    */
  final case class LockData(queryId: String, lockTime: Long, lockMode: String)

  final case class HeldLock(name: String, mode: Mode, data: LockData,
      owner: String)

  /** The pluggable manager contract (HiveLockManager.java): all-or-nothing
    * acquisition of a pre-sorted lock list, per-object unlock, and lock
    * enumeration for SHOW LOCKS.
    */
  trait LockManager {
    def tryLockAll(objs: Seq[(String, Mode, LockData)], owner: String): Boolean
    def unlock(name: String, owner: String): Int
    def releaseImplicit(name: String, owner: String, queryId: String): Unit
    def releaseOwner(owner: String, implicitOnly: Boolean): Unit
    def getLocks(prefix: Option[String]): Seq[HeldLock]
  }

  /** In-process manager (ZooKeeperHiveLockManager stand-in, JVM scope). */
  object LocalLockManager extends LockManager {
    private val held = mutable.ArrayBuffer.empty[HeldLock]

    private def conflicts(name: String, mode: Mode, owner: String): Boolean =
      held.exists(h => h.name == name && h.owner != owner &&
        (mode == Exclusive || h.mode == Exclusive))

    override def tryLockAll(objs: Seq[(String, Mode, LockData)],
        owner: String): Boolean = synchronized {
      if (objs.exists { case (n, m, _) => conflicts(n, m, owner) }) false
      else {
        objs.foreach { case (n, m, d) => held += HeldLock(n, m, d, owner) }
        true
      }
    }

    override def unlock(name: String, owner: String): Int = synchronized {
      val n = held.count(h => h.name == name && h.owner == owner)
      held.filterInPlace(h => !(h.name == name && h.owner == owner))
      n
    }

    override def releaseImplicit(name: String, owner: String,
        queryId: String): Unit =
      synchronized {
        held.filterInPlace(h => !(h.name == name && h.owner == owner &&
          h.data.lockMode == "IMPLICIT" && h.data.queryId == queryId))
      }

    override def releaseOwner(owner: String, implicitOnly: Boolean): Unit =
      synchronized {
        held.filterInPlace(h => !(h.owner == owner &&
          (!implicitOnly || h.data.lockMode == "IMPLICIT")))
      }

    override def getLocks(prefix: Option[String]): Seq[HeldLock] =
      synchronized {
        val all = held.toSeq
        // a table name also lists ITS partition locks (DDLTask.showLocks
        // walks table@part names; lock2.q's SHOW LOCKS tstsrcpart)
        prefix.map(p => all.filter(h =>
          h.name == p || h.name.startsWith(p + "@"))).getOrElse(all)
      }

    /** Test hook. */
    def clearAll(): Unit = synchronized(held.clear())
  }

  def manager: LockManager = LocalLockManager

  /** One owner id per SparkSession object — Thrift/CLI `newSession`s are
    * distinct lock holders, like distinct HiveServer sessions.
    */
  def owner(spark: SparkSession): String =
    "s" + Integer.toHexString(System.identityHashCode(spark))

  /** Reference display name: `db@table` (HiveLockObject.getDisplayName). */
  def lockName(spark: SparkSession, table: String): String =
    if (table.contains(".")) table.replaceFirst("\\.", "@")
    else spark.catalog.currentDatabase + "@" + table

  private def data(spark: SparkSession, tag: String): LockData =
    LockData(spark.conf.getOption("graft.query.id").getOrElse("unknown"),
      System.currentTimeMillis(), tag)

  /** Driver.acquireReadWriteLocks' retry loop: try the whole sorted list,
    * sleep `hive.lock.sleep.between.retries` seconds between the
    * `hive.lock.numretries` attempts, fail loud after (ErrorMsg
    * LOCK_CANNOT_BE_ACQUIRED).
    */
  def acquire(spark: SparkSession, objs: Seq[(String, Mode, LockData)]): Unit = {
    if (objs.isEmpty) return
    val retries = spark.conf.getOption("hive.lock.numretries")
      .map(_.toInt).getOrElse(100)
    val sleepMs = spark.conf.getOption("hive.lock.sleep.between.retries")
      .map(_.toLong * 1000).getOrElse(60000L)
    val sorted = objs.sortBy(_._1)
    var tryNum = 1
    while (!manager.tryLockAll(sorted, owner(spark))) {
      tryNum += 1
      if (tryNum > retries)
        throw new IllegalStateException(
          "Locks on the underlying objects cannot be acquired. " +
            "retry after some time")
      Thread.sleep(sleepMs)
    }
  }

  // ------------------------------------------------- statement handlers

  /** `LOCK TABLE t SHARED|EXCLUSIVE` (Hive.g:842-852, DDLTask.lockTable). */
  def lockTable(spark: SparkSession, table: String, mode: String,
      partSpec: Option[String] = None): Unit = {
    val m = mode.trim.toUpperCase match {
      case "SHARED" => Shared
      case "EXCLUSIVE" => Exclusive
      case other => throw new IllegalArgumentException(s"bad lock mode $other")
    }
    val name = lockName(spark, table) + partSuffix(partSpec)
    // an explicit EXCLUSIVE request conflicts with ANY standing explicit
    // lock on the name, the session's own SHARED included — the
    // reference's ZK lock nodes are not mode-upgradable (lockneg1.q)
    if (m == Exclusive && manager.getLocks(Some(name))
        .exists(_.data.lockMode == "EXPLICIT"))
      throw new IllegalStateException(
        "Locks on the underlying objects cannot be acquired. " +
          "retry after some time")
    acquire(spark, Seq((name, m, data(spark, "EXPLICIT"))))
  }

  /** `PARTITION (ds='x', hr='y')` → Hive's lock-name suffix
    * `@ds=x/hr=y` (HiveLockObject.getDisplayName). */
  private def partSuffix(partSpec: Option[String]): String =
    partSpec.filter(_.trim.nonEmpty).map { spec =>
      "@" + spec.split(',').map(_.trim.replaceAll("['\"]", ""))
        .mkString("/")
    }.getOrElse("")

  /** `UNLOCK TABLE t` (Hive.g:854-858). Loud when nothing was held — the
    * reference's unlock of an unlocked object errors through DDLTask.
    */
  def unlockTable(spark: SparkSession, table: String,
      partSpec: Option[String] = None): Unit = {
    val n = manager.unlock(lockName(spark, table) + partSuffix(partSpec),
      owner(spark))
    if (n == 0)
      throw new IllegalStateException(s"Table $table is not locked by this session")
  }

  /** `SHOW LOCKS [t] [EXTENDED]` rows — sorted by name, EXCLUSIVE before
    * SHARED at the same name (DDLTask.showLocks comparator), extended rows
    * carrying the HiveLockObjectData triple.
    */
  def showLocks(spark: SparkSession, table: Option[String],
      extended: Boolean): Seq[Row] = {
    // DDLTask.showLocks resolves the named table first — SHOW LOCKS on a
    // nonexistent table refuses (clientnegative lockneg5.q)
    // DDLTask.showLocks resolves the named unit: SHOW LOCKS on a
    // nonexistent table/partition refuses (lockneg4.q / lockneg5.q) —
    // unless locks are actually held under the name (an explicitly
    // locked identifier is showable whether or not it is cataloged)
    table.foreach { raw =>
      val heldAny = manager.getLocks(Some(lockName(spark, raw))).nonEmpty
      if (!heldAny) {
        val parts = raw.split('@')
        val t = parts(0)
        if (!spark.catalog.tableExists(t))
          throw new IllegalArgumentException(s"Table $t not found")
        parts.lift(1).foreach { specPart =>
          val specText = specPart.split('/')
            .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
          val exists = try spark.sessionState.catalog.listPartitions(
            spark.sessionState.sqlParser.parseTableIdentifier(t),
            Some(specText)).nonEmpty catch { case _: Exception => false }
          if (!exists) throw new IllegalArgumentException(
            s"Partition ${specText.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")} " +
              s"for table $t does not exist")
        }
      }
    }
    val locks = manager.getLocks(table.map(lockName(spark, _)))
      .sortBy(h => (h.name, if (h.mode == Exclusive) 0 else 1))
    if (extended)
      locks.map(h => Row(h.name, h.mode.name, h.data.queryId,
        h.data.lockTime.toString, h.data.lockMode))
    else locks.map(h => Row(h.name, h.mode.name))
  }

  // --------------------------------------- implicit statement-scoped locks

  /** Lock objects for one statement, from its [[plans.StatementRefs]]:
    * insert targets EXCLUSIVE, every other table read SHARED, plus the
    * current database SHARED (Driver.java:812-819). Dedup keeps the
    * strongest mode; the list comes out name-sorted.
    */
  def lockObjectsFor(spark: SparkSession, stmt: String)
      : Seq[(String, Mode, LockData)] = {
    val refs = plans.HiveDialectParser.of(spark).refs(stmt)
    val modes = mutable.LinkedHashMap.empty[String, Mode]
    refs.reads.foreach(t => modes.put(lockName(spark, t.unquotedString), Shared))
    refs.writeTables.foreach(t => modes.put(lockName(spark, t.unquotedString), Exclusive))
    if (modes.isEmpty) Nil
    else {
      val db = spark.catalog.currentDatabase
      if (!modes.contains(db)) modes.put(db, Shared)
      // a fresh queryId per STATEMENT (Driver assigns one per compile):
      // the release in withStatementLocks matches on it, so a concurrent
      // statement on the SAME session/table cannot release a sibling's
      // implicit locks
      val d = LockData("q" + java.util.UUID.randomUUID().toString.take(8),
        System.currentTimeMillis(), "IMPLICIT")
      modes.toSeq.map { case (n, m) => (n, m, d) }.sortBy(_._1)
    }
  }

  /** Statement-scoped implicit locking (Driver.run's acquire → execute →
    * release-in-finally). No-op unless `hive.support.concurrency` is true.
    */
  def withStatementLocks[T](spark: SparkSession, stmt: String)(body: => T): T = {
    if (!spark.conf.getOption("hive.support.concurrency").contains("true"))
      return body
    val objs = lockObjectsFor(spark, stmt)
    acquire(spark, objs)
    try body
    finally objs.foreach { case (n, _, d) =>
      // release only what THIS statement took implicitly; explicit locks
      // and concurrent statements' implicit locks on the same names stay
      manager.releaseImplicit(n, owner(spark), d.queryId)
    }
  }
}
