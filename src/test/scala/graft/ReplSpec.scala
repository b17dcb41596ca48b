package graft

/** The `store` listing (reference server.rs:16-40): the per-node "what
  * do I hold" view — registered tables with their block-store status.
  */
class ReplSpec extends SparkSuite {

  test("unregistered user script runs end-to-end via the pipe executor") {
    // The reference's extension point is "run ANY script as map/reduce"
    // (sdfs/src/server.rs:371-387). Exercise it with scripts the repo
    // has never seen: a sh tokenizer map and an awk summing reduce,
    // driven through the same runMaple/runJuice paths the REPL uses.
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    withLogLevel {
      val dir = Files.createTempDirectory("graft-pipe")
      val mapSh = dir.resolve("usermap.sh")
      Files.write(mapSh,
        "#!/bin/sh\ntr ' ' '\\n' | grep -v '^$' | sed 's/$/\\t1/'\n".getBytes)
      val redSh = dir.resolve("userreduce.sh")
      Files.write(redSh,
        "#!/bin/sh\nawk -F'\\t' '{c[$1]+=$2} END {for (k in c) print k\"\\t\"c[k]}'\n".getBytes)
      Seq(mapSh, redSh).foreach(_.toFile.setExecutable(true))

      Seq("a b b", "c a", "b").toDF("value")
        .createOrReplaceTempView("pipe_in")
      try {
        val m = graft.tools.Repl.runMaple(spark, mapSh.toString,
          "pipe_kv", "pipe_in", Nil)
        assert(m.contains("(pipe)"), m)
        val j = graft.tools.Repl.runJuice(spark, redSh.toString,
          "pipe_kv", "pipe_out", Nil)
        assert(j.contains("(pipe)"), j)
        val got = spark.table("pipe_out")
          .select($"key", $"value".cast("long").as("n"))
          .as[(String, Long)].collect().toMap
        assert(got == Map("a" -> 2L, "b" -> 3L, "c" -> 1L), got)
        // a nonexistent path still reports the registry, not a crash
        val miss = graft.tools.Repl.runMaple(spark, "no_such.py",
          "x", "pipe_in", Nil)
        assert(miss.startsWith("unknown map executor"), miss)
        // .py resolution: commandFor wraps user scripts in python3 and
        // passes CLI args through (the reference's exact contract)
        assert(graft.mr.PipeExec.commandFor("my.py", Seq("a", "b")) ==
          Seq("python3", "my.py", "a", "b"))
        assert(graft.mr.PipeExec.commandFor("/bin/tool", Nil) == Seq("/bin/tool"))
        // and a real python3 script runs end-to-end (the reference's
        // executors are python scripts — this is their literal path)
        val mapPy = dir.resolve("usermap.py")
        Files.write(mapPy, ("import sys\n" +
          "for line in sys.stdin:\n" +
          "    for w in line.split():\n" +
          "        print(w + '\\t1')\n").getBytes)
        val mp = graft.tools.Repl.runMaple(spark, mapPy.toString,
          "pipe_kv_py", "pipe_in", Nil)
        assert(mp.contains("(pipe)"), mp)
        val pyPairs = spark.table("pipe_kv_py").count()
        assert(pyPairs == 6L, s"expected 6 (word,1) pairs, got $pyPairs")
        Files.deleteIfExists(mapPy)
        spark.catalog.dropTempView("pipe_kv_py")
        // juice forwards CLI args to the reduce script (symmetric with
        // maple): an awk reducer that scales every sum by its first arg
        val redArg = dir.resolve("userreduce_arg.sh")
        Files.write(redArg,
          ("#!/bin/sh\n" +
            "awk -F'\\t' -v m=\"$1\" '{c[$1]+=$2} END {for (k in c) print k\"\\t\"c[k]*m}'\n").getBytes)
        redArg.toFile.setExecutable(true)
        val ja = graft.tools.Repl.runJuice(spark, redArg.toString,
          "pipe_kv", "pipe_out_arg", Seq("10"))
        assert(ja.contains("(pipe)"), ja)
        val scaled = spark.table("pipe_out_arg")
          .select($"key", $"value".cast("long").as("n"))
          .as[(String, Long)].collect().toMap
        assert(scaled == Map("a" -> 20L, "b" -> 30L, "c" -> 10L), scaled)
        Files.deleteIfExists(redArg)
        spark.catalog.dropTempView("pipe_out_arg")
      } finally {
        Seq("pipe_in", "pipe_kv", "pipe_out")
          .foreach(spark.catalog.dropTempView(_))
        Seq(mapSh, redSh, dir).foreach(p => Files.deleteIfExists(p))
      }
    }
  }

  test("registry executors run end-to-end: one-job maple, counted and cached views") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.functions.expr
    import graft.tools.Repl
    val sc = spark.sparkContext
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    /** Spark jobs `f` runs, seen by the listener: a sentinel job's start
      * is delivered after every earlier event. */
    def jobsOf[A](group: String)(f: => A): (A, Int) = {
      sc.setJobGroup(group, group)
      val a = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobGroups.contains(s"$group-end") && System.nanoTime() < deadline)
        Thread.sleep(1)
      (a, jobGroups.toArray.count(_ == group))
    }
    val Count = """\((\d+) (?:pairs|rows)\)""".r.unanchored
    def counted(status: String): Long = status match {
      case Count(n) => n.toLong
      case _ => fail(status)
    }
    def filled(view: String): Boolean =
      spark.table(view).queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      }.contains(true)
    def checkView(status: String, view: String): Unit = {
      assert(status.startsWith("ok:"), status)
      assert(counted(status) == spark.table(view).count(), status)
      assert(filled(view), view)
      assert(Repl.storeListing(spark).contains(s"$view\tTEMPORARY\tcached"), view)
    }
    val views = Seq("repl_sig", "repl_docs", "repl_kv", "repl_out", "repl_wkv",
      "repl_wout", "repl_skv", "repl_sout")
    sc.addSparkListener(listener)
    withLogLevel {
      try {
        graft.io.GraftIO.readLines(spark, ExecutorsSpec.csvPath)
          .createOrReplaceTempView("repl_sig")
        val (m, mapleJobs) = jobsOf("repl-maple") {
          Repl.runMaple(spark, "Sdemo1map.py", "repl_kv", "repl_sig", Seq("Radio"))
        }
        assert(mapleJobs == 1, m)
        checkView(m, "repl_kv")
        val j = Repl.runJuice(spark, "Sdemo1reduce.py", "repl_kv", "repl_out", Nil)
        checkView(j, "repl_out")
        val got = spark.table("repl_out").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == ExecutorsSpec.percentOf(ExecutorsSpec.sdemo1Counts("Radio")))

        // wordcount: the grand total equals the declarative token count;
        // three splits, so per-split partial counts must add up across them
        import spark.implicits._
        val docs = Seq("The quick brown fox", "the LAZY dog's bone, the end", "",
          "fox_trot 42 fox FOX", "Ünïcode wörds and ÉCOLE").toDF("text").repartition(3)
        docs.createOrReplaceTempView("repl_docs")
        val wm = Repl.runMaple(spark, "wordcountmap.py", "repl_wkv", "repl_docs", Nil)
        checkView(wm, "repl_wkv")
        checkView(Repl.runJuice(spark, "wordcountreduce.py", "repl_wkv", "repl_wout", Nil),
          "repl_wout")
        val tokens = docs.select(expr(
          "CAST(sum(size(regexp_extract_all(lower(text), '\\\\w+', 0))) AS STRING)"))
          .head.getString(0)
        assert(spark.table("repl_wout").collect().map(r => (r.getString(0), r.getString(1)))
          .toSeq == Seq(("total", tokens)))

        // select: every golden line survives, every output line matches
        checkView(Repl.runMaple(spark, "selectmap.py", "repl_skv", "repl_sig", Seq("Radio")),
          "repl_skv")
        checkView(Repl.runJuice(spark, "selectreduce.py", "repl_skv", "repl_sout", Nil),
          "repl_sout")
        val sel = spark.table("repl_sout").collect().map(r => (r.getString(0), r.getString(1)))
        val golden = scala.io.Source.fromFile(getClass.getClassLoader
          .getResource("Traffic_Signal_Intersections_filter").getPath, "UTF-8")
        val goldenLines = try golden.getLines().filter(_.nonEmpty).toSet finally golden.close()
        assert(sel.forall { case (k, v) => k == "filtered" && v.contains("Radio") })
        assert(goldenLines.subsetOf(sel.map(_._2).toSet))
      } finally {
        sc.removeSparkListener(listener)
        views.foreach { v =>
          if (spark.catalog.tableExists(v)) spark.catalog.uncacheTable(v)
          spark.catalog.dropTempView(v)
        }
      }
    }
  }

  test("store lists registered tables with cache status") {
    import spark.implicits._
    withLogLevel {
      Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("store_demo")
      spark.catalog.cacheTable("store_demo")
      try {
        val cachedLines = graft.tools.Repl.storeListing(spark)
        assert(cachedLines.exists(l =>
          l.startsWith("store_demo\t") && l.endsWith("\tcached")))
        spark.catalog.uncacheTable("store_demo")
        val coldLines = graft.tools.Repl.storeListing(spark)
        assert(coldLines.exists(l =>
          l.startsWith("store_demo\t") && l.endsWith("\ton-demand")))
      } finally spark.catalog.dropTempView("store_demo")
    }
  }
}
