package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, PreparedStatement, ResultSet, Statement}

/** A `java.sql.Connection` proxy that records, for every statement the
  * loader runs, its kind, its busy time and its rows: rows offered to a
  * batch, rows the batch reports inserted, rows read from a result set.
  * The loader receives it through the public `Connector` constructor
  * and runs unmodified. Calls happen on the calling thread, so each
  * span is tagged with the operation that thread is running.
  */
object JdbcTrace {

  def wrap(conn: Connection, tracer: Tracer, op: () => String): Connection =
    proxy(classOf[Connection], conn) { (m, args, call) =>
      m.getName match {
        case "createStatement" =>
          statement(call().asInstanceOf[Statement], tracer, op)
        case "prepareStatement" =>
          prepared(call().asInstanceOf[PreparedStatement],
            args(0).asInstanceOf[String], tracer, op)
        case _ => call()
      }
    }

  /** Statement kind from the SQL text the Derby dialect and the schema
    * planner generate: the conditional insert, the insert check read,
    * the key retrieval read and the reconstruction (compare) read.
    */
  def kind(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.startsWith("INSERT")) "insert"
    else if (s.startsWith("SELECT DISTINCT")) "check"
    else if (s.contains("LEFT JOIN") || s.startsWith("SELECT\n")) "compare"
    else if (s.startsWith("SELECT")) "retrieve"
    else "other"
  }

  private def statement(st: Statement, tracer: Tracer, op: () => String): Statement =
    proxy(classOf[Statement], st) { (m, args, call) =>
      m.getName match {
        case "executeQuery" =>
          val sql = args(0).asInstanceOf[String]
          val start = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val rs = call().asInstanceOf[ResultSet]
          resultSet(rs, sql, start, t0, tracer, op())
        case _ => call()
      }
    }

  private def prepared(ps: PreparedStatement, sql: String, tracer: Tracer,
      op: () => String): PreparedStatement = {
    var offered = 0L
    proxy(classOf[PreparedStatement], ps) { (m, _, call) =>
      m.getName match {
        case "addBatch" => offered += 1; call()
        case "executeBatch" =>
          val start = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val counts = call().asInstanceOf[Array[Int]]
          tracer.emit("jdbc", "op" -> op(), "stmt" -> kind(sql), "dir" -> "write",
            "start_ms" -> start, "busy_ms" -> (System.nanoTime() - t0) / 1e6,
            "rows_offered" -> offered, "rows_written" -> counts.count(_ > 0).toLong)
          offered = 0L
          counts
        case _ => call()
      }
    }
  }

  /** Read time runs from `executeQuery` to `close`, counting only the
    * time spent inside the driver's calls.
    */
  private def resultSet(rs: ResultSet, sql: String, start: Long, t0: Long,
      tracer: Tracer, op: String): ResultSet = {
    var busyNs = System.nanoTime() - t0
    var rows = 0L
    var done = false
    proxy(classOf[ResultSet], rs) { (m, _, call) =>
      val s = System.nanoTime()
      val out = call()
      busyNs += System.nanoTime() - s
      m.getName match {
        case "next" if out == java.lang.Boolean.TRUE => rows += 1
        case "close" if !done =>
          done = true
          tracer.emit("jdbc", "op" -> op, "stmt" -> kind(sql), "dir" -> "read",
            "start_ms" -> start, "busy_ms" -> busyNs / 1e6, "rows_fetched" -> rows)
        case _ => ()
      }
      out
    }
  }

  private def proxy[T](iface: Class[T], target: T)(
      handle: (Method, Array[AnyRef], () => AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val call = () =>
            try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          handle(m, args, call)
        }
      }).asInstanceOf[T]
}
