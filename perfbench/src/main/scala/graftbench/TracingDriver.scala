package graftbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, Statement}
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext

/** JDBC driver that wraps the embedded Derby driver in traced runs, so
  * the statements the library runs on the driver thread (the rewrite's
  * promote, the in-database merge SQL, counts and DDL) become timed
  * trace events. Connections opened inside tasks are returned unwrapped:
  * executor-side inserts are covered by their job's time already.
  *
  * Spark instantiates the driver class by name through its no-arg
  * constructor, so the delegate and the recorder live in the companion.
  */
class TracingDriver extends Driver {
  import TracingDriver._

  override def connect(url: String, info: Properties): Connection = {
    val c = delegate.connect(url, info)
    if (c == null || TaskContext.get() != null) c else wrap(c)
  }
  override def acceptsURL(url: String): Boolean = delegate.acceptsURL(url)
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    delegate.getPropertyInfo(url, info)
  override def getMajorVersion: Int = delegate.getMajorVersion
  override def getMinorVersion: Int = delegate.getMinorVersion
  override def jdbcCompliant(): Boolean = delegate.jdbcCompliant()
  override def getParentLogger: java.util.logging.Logger = delegate.getParentLogger
}

object TracingDriver {
  @volatile private var delegate: Driver = _
  @volatile var recorder: Option[Recorder] = None

  /** Put the wrapper in front of the registered driver for `url`:
    * DriverManager hands out the first registered driver that accepts a
    * URL, so the original is deregistered and registered again after.
    */
  def install(url: String): Unit = {
    DriverManager.getConnection(url).close() // loads and boots the engine
    val orig = DriverManager.getDrivers.asScala.find(_.acceptsURL(url))
      .getOrElse(throw new IllegalStateException(s"no JDBC driver for $url"))
    delegate = orig
    DriverManager.deregisterDriver(orig)
    DriverManager.registerDriver(new TracingDriver)
    DriverManager.registerDriver(orig)
  }

  private def wrap(c: Connection): Connection =
    proxy(classOf[Connection], c, (m, args, call) => {
      val r = call()
      m.getName match {
        case "createStatement" => proxy(classOf[Statement], r.asInstanceOf[Statement],
          timed(None))
        case "prepareStatement" => proxy(classOf[java.sql.PreparedStatement],
          r.asInstanceOf[java.sql.PreparedStatement], timed(Some(args(0).toString)))
        case _ => r
      }
    })

  private def timed(prepared: Option[String]): (Method, Array[AnyRef], () => AnyRef) => AnyRef =
    (m, args, call) =>
      if (!m.getName.startsWith("execute") || recorder.isEmpty) call()
      else {
        val t0 = System.currentTimeMillis()
        val r = call()
        val t1 = System.currentTimeMillis()
        val sql = prepared.orElse(Option(args).flatMap(_.headOption).map(_.toString))
          .getOrElse("")
        val rows = r match {
          case n: java.lang.Integer => n.longValue
          case n: java.lang.Long => n.longValue
          case a: Array[Int] => a.map(_.toLong).sum
          case _ => 0L
        }
        recorder.foreach(_.jdbc(t0, t1, sql, rows, Frames.current()))
        r
      }

  private def proxy[T](iface: Class[T], target: T,
                       h: (Method, Array[AnyRef], () => AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          h(m, args, () =>
            try if (args == null) m.invoke(target) else m.invoke(target, args: _*)
            catch { case e: InvocationTargetException => throw e.getCause })
      }).asInstanceOf[T]
}
