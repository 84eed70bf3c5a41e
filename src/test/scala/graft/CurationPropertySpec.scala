package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Packing, Scd}

/** Property-based invariants of the curation operators, checked against
  * straightforward serial reference implementations on random inputs
  * (fixed-seed sampling driver, as in NamingPropertySpec). */
class CurationPropertySpec extends SparkSpec {

  /** Deterministic property driver: `n` samples from the generator. */
  private def forAll[T](gen: Gen[T], n: Int = 20)(f: T => Unit): Unit = {
    var seed = Seed(4242L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach { v => f(v); i += 1 }
      seed = seed.next
    }
  }

  private val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.chooseNum(1, 40)
    docs <- Gen.listOfN(n, for {
      nw <- Gen.chooseNum(0, 30)
      ws <- Gen.listOfN(nw, Gen.oneOf("alpha", "beta", "gamma", "delta", "x9"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("packing matches a serial reference on random corpora") {
    val s = spark
    import s.implicits._
    val budget = 17
    forAll(corpusGen) { docs =>
      val got = Packing.assignChunks(docs.toDF("doc_id", "text"), "doc_id", "text",
          nShards = 3, budgetTokens = budget)
        .select("shard", "id", "n_tokens", "chunk_id", "straddles")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .sortBy(t => (t._1, t._2))
      // serial reference: per shard in id order, running token count
      // (same BPE-ish token regex as TextOps.tokenCount)
      val tokenRe = graft.ops.TextOps.TokenPattern.r
      val expected = docs
        .map { case (id, t) =>
          (id % 3, id, tokenRe.findAllIn(t).size.toLong)
        }
        .groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
          var cum = 0L
          rows.sortBy(_._2).map { case (_, id, nt) =>
            val chunk = cum / budget
            val straddles = nt > 0 && (cum + nt - 1) / budget > chunk
            val out = (shard, id, nt, chunk, straddles)
            cum += nt
            out
          }
        }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == expected, s"docs=$docs")
    }
  }

  test("supplied-order packing matches a serial reference on random permutations") {
    val s = spark
    import s.implicits._
    val budget = 17
    val gen = for { docs <- corpusGen; seed <- Gen.chooseNum(0, 100000) } yield (docs, seed)
    forAll(gen) { case (docs, seed) =>
      // random within-shard read order — the epoch-shuffle stand-in
      val rnd = new scala.util.Random(seed)
      val rows = docs.groupBy(_._1 % 3).toSeq.flatMap { case (shard, ds) =>
        rnd.shuffle(ds).zipWithIndex.map { case ((id, t), i) =>
          (id, t, shard, (i + 1).toLong)
        }
      }
      val got = Packing.assignChunksBy(rows.toDF("doc_id", "text", "shard", "pos"),
          "shard", "pos", "text", budgetTokens = budget)
        .select("shard", "pos", "n_tokens", "chunk_id", "straddles")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .sortBy(t => (t._1, t._2))
      val tokenRe = graft.ops.TextOps.TokenPattern.r
      val expected = rows.groupBy(_._3).toSeq.flatMap { case (shard, rs) =>
        var cum = 0L
        rs.sortBy(_._4).map { case (_, t, _, pos) =>
          val nt = tokenRe.findAllIn(t).size.toLong
          val chunk = cum / budget
          val straddles = nt > 0 && (cum + nt - 1) / budget > chunk
          val out = (shard, pos, nt, chunk, straddles)
          cum += nt
          out
        }
      }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == expected, s"rows=$rows")
    }
  }

  private val changeLogGen: Gen[List[(Long, Long, String)]] = for {
    nKeys <- Gen.chooseNum(1, 8)
    rows <- Gen.listOfN(nKeys, for {
      nv <- Gen.chooseNum(1, 6)
      segs <- Gen.listOfN(nv, Gen.oneOf("A", "B", "C"))
    } yield segs)
  } yield rows.zipWithIndex.flatMap { case (segs, k) =>
    segs.zipWithIndex.map { case (seg, v) => (k.toLong, v.toLong, seg) }
  }

  test("scd2 intervals tile the version range; one current row per key") {
    val s = spark
    import s.implicits._
    forAll(changeLogGen) { log =>
      val out = Scd.scd2(log.toDF("k", "version", "seg"), Seq("k"), "version", Seq("seg"))
        .select("k", "seg", "valid_from", "valid_to", "is_current")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) Long.MaxValue else r.getLong(3), r.getBoolean(4)))
        .groupBy(_._1)
      out.foreach { case (k, rows) =>
        val sorted = rows.sortBy(_._3)
        // exactly one open/current interval, and it is the last
        assert(sorted.count(_._5) == 1 && sorted.last._5, s"key $k: $sorted")
        // consecutive intervals tile: next.valid_from == prev.valid_to + 1
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(b._3 == a._4 + 1, s"key $k gap: $a -> $b")
          case _ =>
        }
        // compression: consecutive kept rows always change the attribute
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._2 != b._2, s"key $k uncompressed: $a -> $b")
          case _ =>
        }
      }
    }
  }
}
