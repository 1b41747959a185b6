package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}
import java.util.concurrent.atomic.AtomicLong

/** The sink stand-in: embedded in-memory Derby, configured once per
  * JVM before the engine boots.
  *
  * - In memory: no fsync, so the disk is not what gets measured.
  * - Statement cache off: Derby shares MERGE's matched-clause state
  *   across sessions through its statement cache, and concurrent
  *   MERGE replays from several partitions then fail inside Derby
  *   (an internal NPE that reaches the caller only as "08003 No
  *   current connection", after the sink's rollback replaces it).
  * - Derby's own error log goes to the run's work directory; failure
  *   reports quote its ERROR lines. */
object Derby {
  def configure(workDir: String): Unit = {
    System.setProperty("derby.language.statementCacheSize", "0")
    System.setProperty("derby.stream.error.file", s"$workDir/derby.log")
    System.setProperty("derby.system.home", workDir)
  }

  def url(db: String): String = s"jdbc:derby:memory:$db"

  def create(db: String, ddl: String): Unit = {
    val c = DriverManager.getConnection(url(db) + ";create=true")
    try { val st = c.createStatement(); st.execute(ddl); st.close() } finally c.close()
  }

  def exec(db: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url(db))
    try { val st = c.createStatement(); st.execute(sql); st.close() } finally c.close()
  }

  /** Drop an in-memory database (Derby signals success by throwing). */
  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case _: SQLException => }

  /** Every row of `table`, columns in `cols` order. */
  def rows(db: String, table: String, cols: Seq[String]): Seq[Array[Any]] = {
    val c = DriverManager.getConnection(url(db))
    try {
      val rs = c.createStatement().executeQuery(s"SELECT ${cols.mkString(", ")} FROM $table")
      val out = Vector.newBuilder[Array[Any]]
      while (rs.next()) out += cols.indices.map(i => rs.getObject(i + 1): Any).toArray
      out.result()
    } finally c.close()
  }

  /** ERROR lines Derby logged since byte offset `from` of its log. */
  def errorLines(workDir: String, from: Long): Seq[String] = {
    val f = new java.io.File(s"$workDir/derby.log")
    if (!f.exists() || f.length() <= from) Nil
    else {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        raf.seek(from)
        val buf = new Array[Byte]((f.length() - from).min(1 << 20).toInt)
        raf.readFully(buf)
        new String(buf, "UTF-8").split("\n").filter(_.contains("ERROR")).take(5).toSeq
      } finally raf.close()
    }
  }

  def logSize(workDir: String): Long = new java.io.File(s"$workDir/derby.log").length()
}

/** Counting wrapper around a real Derby connection, handed to the sink
  * through its public `connect` parameter in the traced run. It counts
  * and times what the database does for the sink: executeBatch,
  * commit and rollback calls, rows per batch, and rows replayed as
  * MERGE after a rollback. It also keeps the first SQLException Derby
  * raised, because the sink's own rollback in its catch block can
  * throw and hide the original error. Counters are JVM-wide: in local
  * mode every partition writes from a thread of this JVM. */
object CountingJdbc {
  val dbExecNs = new AtomicLong
  val connNs = new AtomicLong
  val batches = new AtomicLong
  val batchRows = new AtomicLong
  val commits = new AtomicLong
  val rollbacks = new AtomicLong
  val replayedRows = new AtomicLong
  @volatile var firstDbError: String = null

  def reset(): Unit = {
    Seq(dbExecNs, connNs, batches, batchRows, commits, rollbacks, replayedRows)
      .foreach(_.set(0))
    firstDbError = null
  }

  /** The `connect` function passed to the sink. */
  val connect: String => Connection = (u: String) => open(u)

  private def noteError(t: Throwable): Unit = t match {
    case e: SQLException if firstDbError == null =>
      firstDbError = s"${e.getClass.getName} SQLState=${e.getSQLState}: ${e.getMessage}" +
        Option(e.getNextException).map(n => s" / next: ${n.getClass.getName}: ${n.getMessage}").getOrElse("")
    case _ =>
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try { if (args == null) m.invoke(target) else m.invoke(target, args: _*) }
    catch {
      case e: InvocationTargetException =>
        noteError(e.getCause)
        throw e.getCause
    }

  private def timed(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
    val t0 = System.nanoTime()
    try call(target, m, args) finally dbExecNs.addAndGet(System.nanoTime() - t0)
  }

  def open(url: String): Connection = {
    val real = DriverManager.getConnection(url)
    val opened = System.nanoTime()
    var rolledBack = false
    def statement(sql: String, ps: PreparedStatement): PreparedStatement = {
      val isMerge = sql.trim.toUpperCase.startsWith("MERGE")
      var pending = 0L
      Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]),
        new InvocationHandler {
          def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
            case "addBatch" => pending += 1; call(ps, m, args)
            case "executeBatch" =>
              batches.incrementAndGet()
              batchRows.addAndGet(pending)
              if (isMerge && rolledBack) replayedRows.addAndGet(pending)
              pending = 0
              timed(ps, m, args)
            case _ => call(ps, m, args)
          }
        }).asInstanceOf[PreparedStatement]
    }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" =>
            statement(args(0).asInstanceOf[String], call(real, m, args).asInstanceOf[PreparedStatement])
          case "commit" => commits.incrementAndGet(); timed(real, m, args)
          case "rollback" => rollbacks.incrementAndGet(); rolledBack = true; timed(real, m, args)
          case "close" =>
            try call(real, m, args) finally connNs.addAndGet(System.nanoTime() - opened)
          case _ => call(real, m, args)
        }
      }).asInstanceOf[Connection]
  }
}
