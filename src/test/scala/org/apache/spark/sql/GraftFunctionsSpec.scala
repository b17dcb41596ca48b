package org.apache.spark.sql

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

import scala.jdk.CollectionConverters._

import graft.functions.{GraftExtensions, GraftFunctions}

/** Both registration paths read the one GraftFunctions.table, and
  * registering on a session that already has the functions is a no-op.
  * In this package because SparkSessionExtensions.registerFunctions is
  * `private[sql]`: it is how a session built with
  * spark.sql.extensions=graft.functions.GraftExtensions gets its
  * functions. */
class GraftFunctionsSpec extends graft.SparkSuite {

  private val ten = Seq("graft_dot", "graft_nibble_l1", "graft_char_hist",
    "graft_srp_words", "graft_h32", "graft_top_cells", "graft_quant",
    "graft_vdiv", "graft_word_grams", "graft_dsum")

  test("every table function resolves through register and through GraftExtensions") {
    assert(GraftFunctions.table.map(_._1).sorted == ten.sorted)
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val viaExtensions = ext.registerFunctions(new SimpleFunctionRegistry)
    GraftFunctions.register(spark)
    val viaRegister = spark.sessionState.functionRegistry
    ten.foreach { name =>
      val id = FunctionIdentifier(name)
      assert(viaExtensions.functionExists(id), s"$name missing from GraftExtensions")
      assert(viaRegister.functionExists(id), s"$name missing from GraftFunctions.register")
    }
  }

  test("a second register emits no FunctionRegistry WARN") {
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("graft-function-registry", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.contains("FunctionRegistry"))
          warns.add(e.getMessage.getFormattedMessage)
    }
    val analysis = "org.apache.spark.sql.catalyst.analysis"
    val previous = LogManager.getLogger(analysis).getLevel
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    Configurator.setLevel(analysis, Level.WARN)
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val registry = spark.sessionState.functionRegistry
      GraftFunctions.register(spark)
      // the appender sees a replacement's WARN...
      val (name, builder) = GraftFunctions.table.head
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      assert(warns.asScala.exists(_.contains(name)),
        s"appender saw no WARN for a replaced function: $warns")
      warns.clear()
      // ...and registering again replaces nothing
      GraftFunctions.register(spark)
      assert(warns.isEmpty, s"register replaced functions: $warns")
    } finally {
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      Configurator.setLevel(analysis, previous)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
