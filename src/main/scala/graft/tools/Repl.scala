package graft.tools

import scala.io.StdIn

import org.apache.spark.sql.SparkSession

/** Interactive command REPL — the reference's user surface
  * (sdfs/src/main.rs:218-306: whitespace-tokenized commands on a prompt
  * loop). Same commands, Spark semantics:
  *
  *   put <local_path> <name>     load a file (parquet/csv/text by
  *                               extension) and register it as <name>
  *   get <name> <local_path>     save table <name> as parquet
  *   ls [name]                   list registered tables (the leader's
  *                               file-table analog, main.rs:246-248)
  *   store                       list the tables THIS node holds data
  *                               for (the per-node file listing,
  *                               server.rs:16-40, main.rs:249-251):
  *                               registered tables plus whether their
  *                               data is materialized in this JVM's
  *                               block store or scanned on demand
  *   delete <name>               drop the view (main.rs:243-245)
  *   maple <exe> <workers> <prefix> <view> [args...]
  *                               run a map executor: the reference's
  *                               demo script names map to Scala lambdas
  *                               (graft.mr.Executors); ANY OTHER <exe>
  *                               that exists as a file runs as a
  *                               subprocess pipe (graft.mr.PipeExec —
  *                               .py under python3, else the file
  *                               itself; stdin=records,
  *                               stdout=key\tvalue). Output registered
  *                               as view <prefix> with (key, value)
  *                               columns. Worker count is accepted and
  *                               ignored — split sizing is the
  *                               scheduler's job.
  *   juice <exe> <workers> <prefix> <view> [delete?] [args...]
  *                               fold the (key, value) view <prefix>
  *                               with a named reduce executor (or a
  *                               user script path, piped with one
  *                               key's lines contiguous); output
  *                               registered as <view>. An optional
  *                               leading 0/1 delete-intermediates flag
  *                               (dead even in the reference — the
  *                               leader ignores it) is stripped;
  *                               remaining args forward to the
  *                               executor, same as maple
  *   SELECT ALL FROM ds WHERE regex        (reference dialect)
  *   SELECT ALL FROM d1 d2 WHERE d1.f = d2.f
  *   SELECT ...                  any Spark SQL beyond the two
  *                               reference statements
  *   explain SELECT ...          show the physical plan
  *   quit
  */
object Repl {

  /** The `store` listing (reference server.rs:16-40): one line per
    * registered table — name, type, and whether its data is held in
    * this JVM's block store ("cached") or scanned on demand. Factored
    * out of the command loop so specs can exercise it headlessly.
    */
  def storeListing(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map { tb =>
      val cached =
        try spark.catalog.isCached(tb.name) catch { case _: Exception => false }
      s"${tb.name}\t${tb.tableType}\t${if (cached) "cached" else "on-demand"}"
    }

  /** `maple <exe> ...` body, factored out so specs can run executors
    * headlessly. Resolution order mirrors the reference's "run any
    * script" contract (sdfs/src/server.rs:371-387): a pre-registered
    * lambda name wins (the reference's own demo scripts); otherwise an
    * existing file path runs as a subprocess via [[graft.mr.PipeExec]].
    * Returns the status line the REPL prints.
    */
  def runMaple(spark: SparkSession, exe: String, prefix: String,
      view: String, args: Seq[String]): String = {
    import spark.implicits._
    val needsArg = Set("selectmap.py", "Sdemo1map.py", "Hdemo1map.py")
    val df = spark.table(view)
    val lines = df.select(graft.ops.RefSql.lineOf(df).as("value")).as[String]
    graft.mr.Executors.mapByName.get(exe) match {
      case Some(_) if needsArg(exe) && args.isEmpty =>
        s"usage: maple $exe <workers> <prefix> <view> <arg> — $exe requires an argument"
      case Some(udf) =>
        val kv = graft.mr.MapleJuice.maple(lines)(l => udf(l, args))
        val out = kv.toDF("key", "value").cache() // one job: count + later reads
        out.createOrReplaceTempView(prefix)
        s"ok: maple $exe -> view $prefix (${out.count()} pairs)"
      case None if new java.io.File(exe).isFile =>
        val out = graft.mr.PipeExec.pipeMaple(lines, exe, args)
          .toDF("key", "value").cache()
        out.createOrReplaceTempView(prefix)
        s"ok: maple $exe (pipe) -> view $prefix (${out.count()} pairs)"
      case None =>
        s"unknown map executor: $exe (known: " +
          s"${graft.mr.Executors.mapByName.keys.mkString(", ")}; " +
          "or pass a path to your own script — .py runs under python3, " +
          "anything else must be executable; stdin=records, stdout=key\\tvalue)"
    }
  }

  /** `juice <exe> ...` body — registry lambda or user-script pipe, same
    * resolution as [[runMaple]]. Pipe reducers see one key's lines
    * contiguous and keys sorted per partition (Hadoop-Streaming
    * contract).
    */
  def runJuice(spark: SparkSession, exe: String, prefix: String,
      out: String, args: Seq[String]): String = {
    import spark.implicits._
    val kv = spark.table(prefix).select($"key", $"value").as[(String, String)]
    graft.mr.Executors.reduceByName.get(exe) match {
      case Some(udf) =>
        val folded = graft.mr.MapleJuice.juice(kv)((k, vs) => udf(k, vs, args))
          .toDF("key", "value")
        // reference reducers post-process their key set (grand
        // totals / percent formatting) — apply the same stage
        val finalized = graft.mr.Executors.finalizeByName
          .get(exe).map(f => f(folded)).getOrElse(folded)
          .cache()
        finalized.createOrReplaceTempView(out)
        s"ok: juice $exe -> view $out (${finalized.count()} rows)"
      case None if new java.io.File(exe).isFile =>
        val folded = graft.mr.PipeExec.pipeJuice(kv, exe, args)
          .toDF("key", "value").cache()
        folded.createOrReplaceTempView(out)
        s"ok: juice $exe (pipe) -> view $out (${folded.count()} rows)"
      case None =>
        s"unknown reduce executor: $exe (known: " +
          s"${graft.mr.Executors.reduceByName.keys.mkString(", ")}; " +
          "or pass a path to your own script)"
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = DriverSession.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("graft> ready (put/get/ls/store/delete/SELECT/explain/quit)")

    var running = true
    while (running) {
      print("graft> ")
      Console.flush()
      val line = Option(StdIn.readLine()).map(_.trim).getOrElse("quit")
      try {
        line.split("\\s+").toList match {
          case Nil | List("") => ()
          case List("quit") | List("exit") => running = false
          case List("put", path, name) =>
            val df =
              if (path.endsWith(".csv")) graft.io.GraftIO.readCsv(spark, path)
              else if (path.endsWith(".parquet")) spark.read.parquet(path)
              else graft.io.GraftIO.readLines(spark, path)
            df.createOrReplaceTempView(name)
            println(s"ok: $name (${df.count()} rows)")
          case List("get", name, path) =>
            spark.table(name).write.mode("overwrite").parquet(path)
            println(s"ok: $name -> $path")
          case List("ls") =>
            spark.catalog.listTables().collect()
              .foreach(t => println(s"${t.name}\t${t.tableType}"))
          case List("ls", name) =>
            spark.table(name).printSchema()
          case List("store") =>
            storeListing(spark).foreach(println)
          case List("delete", name) =>
            spark.catalog.dropTempView(name)
            println(s"ok: deleted $name")
          case "maple" :: exe :: _ :: prefix :: view :: args =>
            println(runMaple(spark, exe, prefix, view, args))
          case "juice" :: exe :: _ :: prefix :: out :: rest =>
            // strip the reference's optional delete-intermediates flag
            // (0/1 — dead code there too: leader.rs ignores it), then
            // forward the remaining args to the executor like maple
            val jArgs = rest match {
              case ("0" | "1") :: more => more
              case more => more
            }
            println(runJuice(spark, exe, prefix, out, jArgs))
          case "explain" :: _ =>
            spark.sql(line.stripPrefix("explain").trim).explain("formatted")
          case _ if line.toUpperCase.startsWith("SELECT") ||
            line.toUpperCase.startsWith("WITH") =>
            // the reference's two-statement dialect first, Spark SQL else
            graft.ops.RefSql.compileNamed(spark, line) match {
              case Some((df, outName)) =>
                // the reference persists results as <ds>_filter /
                // <d1>_<d2>_join files; register the same name as a view
                df.createOrReplaceTempView(outName)
                df.show(50, truncate = false)
                println(s"ok: (reference dialect) registered view $outName " +
                  s"(retrieve with: get $outName <path>)")
              case None => spark.sql(line).show(50, truncate = false)
            }
          case other =>
            println(s"unknown command: ${other.headOption.getOrElse("")}")
        }
      } catch {
        case e: Exception => println(s"error: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
