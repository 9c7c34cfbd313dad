package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, SQLException, Statement}
import java.util.Properties

/** A JDBC driver over embedded Derby that keeps PostgreSQL's rule for a
  * failed transaction: once a statement fails inside a transaction, every
  * later statement fails (SQLState 25P02) until the transaction rolls
  * back, entirely or to a savepoint; a commit of such a transaction rolls
  * it back and throws. Derby alone rolls back only the failed statement,
  * so a writer that swallows an error and carries on passes on Derby and
  * fails on PostgreSQL. URLs are `jdbc:pgabort:` followed by the rest of
  * a Derby URL, e.g. `jdbc:pgabort:memory:db;create=true`.
  */
object AbortingJdbcDriver extends Driver {
  val Prefix = "jdbc:pgabort:"

  private lazy val registered: Unit = DriverManager.registerDriver(this)
  def register(): Unit = registered

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else new Transaction(
      DriverManager.getConnection("jdbc:derby:" + url.stripPrefix(Prefix), info)).connection

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant: Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("graft.AbortingJdbcDriver")

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[_], handle: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = handle(m, args)
      }).asInstanceOf[T]

  /** One connection and the abort flag of its open transaction. */
  private final class Transaction(underlying: Connection) {
    @volatile private var aborted = false

    val connection: Connection = proxy[Connection](classOf[Connection], (m, args) =>
      m.getName match {
        case "rollback" =>
          val r = call(underlying, m, args); aborted = false; r
        case "commit" if aborted =>
          underlying.rollback(); aborted = false
          throw new SQLException(
            "the transaction was aborted by an earlier error and rolled back", "25P02")
        case "createStatement" | "prepareStatement" | "prepareCall" =>
          statement(call(underlying, m, args).asInstanceOf[Statement], m.getReturnType)
        case _ => call(underlying, m, args)
      })

    private def statement(st: Statement, iface: Class[_]): Statement =
      proxy[Statement](iface, (m, args) =>
        if (!m.getName.startsWith("execute")) call(st, m, args)
        else if (aborted)
          throw new SQLException("current transaction is aborted, commands " +
            "ignored until end of transaction block", "25P02")
        else
          try call(st, m, args)
          catch {
            case e: SQLException =>
              if (!underlying.getAutoCommit) aborted = true
              throw e
          })
  }
}
