package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.{Incremental, LakeToWarehouse}
import graft.gen.FarmProducer
import graft.stream.IngestStream

/** The farm loop on local files, for counting the processes it spawns:
  * a FarmProducer backlog drained through `IngestStream.start`
  * (AvailableNow), then loaded into the star schema in time-sliced
  * increments with every dim and the fact written as parquet and read
  * back, like perfbench's `farm_backlog` round. Round 0 runs cold; later
  * rounds run warm, each into a fresh directory.
  *
  * `graft.SpawnProbe <root> [rounds=1] [events=400] [shards=4] [increments=2]`
  *
  * When `SPAWNS_LOG` names a log that wrappers append one line per
  * spawned command to (`tools/spawns.sh`, SpawnSpec), prints one JSON
  * line per phase (`setup`, `drain<r>`, `increment<r>.<i>`) with the
  * commands logged during it, by name.
  */
object SpawnProbe {
  /** FarmProducer's first event time and spacing. */
  private val BaseMicros = 1704067200000000L
  private val StepMicros = 3000000L

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val rounds = args.lift(1).map(_.toInt).getOrElse(1)
    val n = args.lift(2).map(_.toLong).getOrElse(400L)
    val shards = args.lift(3).map(_.toInt).getOrElse(4)
    val increments = args.lift(4).map(_.toInt).getOrElse(2)
    val log = sys.env.get("SPAWNS_LOG").map(Paths.get(_))
    var seen = 0
    def phase(name: String): Unit = log.foreach { p =>
      val lines = Files.readAllLines(p)
      val now = lines.size
      val byCmd = (seen until now).map(i => lines.get(i).takeWhile(_ != ' '))
        .groupBy(identity).map { case (c, xs) => c -> xs.size }.toSeq.sorted
        .map { case (c, k) => s""""$c":$k""" }
      seen = now
      println((Seq(""""probe":"spawns"""", s""""phase":"$name"""") ++ byCmd)
        .mkString("{", ",", "}"))
    }

    val spark = GraftSession.local()
    val src = s"$root/src"
    FarmProducer.records(spark, n, seed = 1L, numPartitions = shards).write.text(src)
    IngestStream.pinPickOrder(src)
    phase("setup")

    (0 until rounds).foreach { r =>
      val out = s"$root/round$r"
      val (q, _) = IngestStream.start(IngestStream.fileSource(spark, src),
        s"$out/lake", s"$out/alerts", s"$out/ckpt")
      q.awaitTermination()
      phase(s"drain$r")

      val wh = s"$out/warehouse"
      var fact: Option[DataFrame] = None
      var dims: Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = None
      (1 to increments).foreach { i =>
        val cut = BaseMicros + n * StepMicros * i / increments
        val readings = LakeToWarehouse.validReadings(spark.read.json(s"$out/lake"))
          .filter(col("timestamp") < timestamp_micros(lit(cut)))
        val res = Incremental.load(readings, fact, dims)
        val names = Seq("location", "time", "soil", "weather")
        names.zip(Seq(res.dimLocation, res.dimTime, res.dimSoil, res.dimWeather))
          .foreach { case (nm, d) => d.foreach(_.write.parquet(s"$wh/dim_$nm/$i")) }
        res.newFactRows.foreach(_.write.mode("append").parquet(s"$wh/fact"))
        CacheScope.drain(blocking = true)
        fact = Some(spark.read.parquet(s"$wh/fact"))
        val back = names.map(nm => spark.read.parquet(s"$wh/dim_$nm/$i"))
        dims = Some((back(0), back(1), back(2), back(3)))
        phase(s"increment$r.$i")
      }
      println(s"""{"probe":"spawns","round":$r,"landed":${spark.read.text(s"$out/lake").count()},""" +
        s""""fact_rows":${fact.map(_.count()).getOrElse(0L)}}""")
    }
    spark.stop()
  }
}
