package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness: time driver queries / dump plans. Not part of the driver
  * contract. Usage: runMain graft.tools.Profile <mode> [sfDir] <query>...
  * with mode one of time, timeN, jobs, plantime, explain, run. */
object Profile {
  def main(args: Array[String]): Unit = {
    val what = args.headOption.getOrElse("time")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs  rows=$n")
    }

    what match {
      case "time" =>
        graft.SparkEntry.queries.get(args(2)) match {
          case Some(fn) =>
            time(args(2) + " cold")(fn(spark, dir).count())
            time(args(2) + " warm")(fn(spark, dir).count())
          case None => println(s"unknown query ${args(2)}")
        }
      case "timeN" =>
        // repeated warm timings for A/B work: one cold pass, then N warm
        // passes with per-pass wall times and their min (the bench's
        // min-of-2 warm semantics, but with enough samples to see the
        // load-noise floor)
        val n = args.drop(3).headOption.map(_.toInt).getOrElse(5)
        args(2).split(",").foreach { q =>
          graft.SparkEntry.queries.get(q) match {
            case Some(fn) =>
              time(q + " cold")(fn(spark, dir).count())
              val laps = (1 to n).map { i =>
                val t0 = System.nanoTime()
                val rows = fn(spark, dir).count()
                val s = (System.nanoTime() - t0) / 1e9
                println(f"[profile] $q warm#$i ${s}%8.3fs rows=$rows")
                s
              }
              println(f"[profile] $q warm-min ${laps.min}%8.3fs median ${laps.sorted.apply(n / 2)}%8.3fs")
            case None => println(s"unknown query $q")
          }
        }
      case "jobs" =>
        // per-job wall-time breakdown of one warm pass: how many Spark
        // jobs a query launches and where the wall clock goes (many small
        // jobs = driver round-trips / eager materializations; one big job
        // = stage work)
        args(2).split(",").foreach { q =>
          graft.SparkEntry.queries.get(q) match {
            case Some(fn) =>
              fn(spark, dir).count() // warm lifecycle caches
              val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
              val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int)]()
              val l = new org.apache.spark.scheduler.SparkListener {
                override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
                  jobs.put(e.jobId, (e.time,
                    Option(e.properties.getProperty("spark.job.description")).getOrElse("")))
                override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
                  Option(jobs.get(e.jobId)).foreach { case (t0, _) =>
                    done.add((e.jobId, e.time - t0, 0))
                  }
              }
              spark.sparkContext.addSparkListener(l)
              val t0 = System.nanoTime()
              val rows = fn(spark, dir).count()
              val wall = (System.nanoTime() - t0) / 1e9
              Thread.sleep(500) // let the listener bus drain
              spark.sparkContext.removeSparkListener(l)
              val ds = done.toArray(Array.empty[(Int, Long, Int)]).sortBy(_._1)
              println(f"[jobs] $q wall=$wall%6.3f s rows=$rows njobs=${ds.length} jobsum=${ds.map(_._2).sum / 1000.0}%6.3f gap=${wall - ds.map(_._2).sum / 1000.0}%6.3f")
              ds.foreach { case (id, ms, _) =>
                val desc = jobs.get(id)._2.take(90)
                println(f"[jobs]   job#$id ${ms}%5d ms  $desc")
              }
            case None => println(s"unknown query $q")
          }
        }
      case "plantime" =>
        // split a warm pass into construct+analyze+optimize+plan (driver
        // only, no job) vs execute: tells whether a query is
        // planning-bound or compute-bound at this scale
        args(2).split(",").foreach { q =>
          graft.SparkEntry.queries.get(q) match {
            case Some(fn) =>
              fn(spark, dir).count() // warm lifecycle caches
              (1 to 3).foreach { i =>
                val t0 = System.nanoTime()
                val df = fn(spark, dir)
                val t1 = System.nanoTime()
                df.queryExecution.executedPlan // force analyze+optimize+plan
                val t2 = System.nanoTime()
                val rows = df.count()
                val t3 = System.nanoTime()
                println(f"[plantime] $q#$i build=${(t1 - t0) / 1e9}%6.3f " +
                  f"plan=${(t2 - t1) / 1e9}%6.3f exec=${(t3 - t2) / 1e9}%6.3f rows=$rows")
              }
            case None => println(s"unknown query $q")
          }
        }
      case "explain" =>
        graft.SparkEntry.queries.get(args(2)) match {
          case Some(fn) => fn(spark, dir).explain("formatted")
          case None => println(s"unknown query ${args(2)}")
        }
      case "run" =>
        // execute named queries and print their rows (dev loop: eyeball a
        // gate row / small result without a full Verify pass)
        args.drop(2).foreach { name =>
          graft.SparkEntry.queries.get(name) match {
            case Some(fn) =>
              println(s"=== $name ===")
              fn(spark, dir).show(50, truncate = false)
            case None => println(s"unknown query $name")
          }
        }
      case other => println(s"unknown profile $other")
    }
    spark.stop()
  }
}
