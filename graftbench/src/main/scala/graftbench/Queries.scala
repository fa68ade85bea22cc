package graftbench

import scala.util.Random

import graft.synth.{Synth, SynthSql6}

/** One Gremlin query of the `joins` workload.
  *
  * @param key         shape plus parameters; equal keys give equal rows
  * @param labeled     runs on the property graph (edge labels), else on
  *                    the link graph
  * @param twinSql     DuckDB SQL that computes the same rows from the
  *                    same transcript formulas, for a CR shape
  * @param expectCount driver-side traverser count, for a 1/2-hop count
  */
final case class Query(
    shape: String,
    key: String,
    text: String,
    labeled: Boolean,
    twinSql: String = "",
    expectCount: Option[Reference.Graph => Long] = None)

/** The query mix: the 1-hop / 2-hop micro queries and three of the LDBC
  * interactive-complex shapes the engine ships — CR-2 (light), CR-6 and
  * CR-12 (heavy) — for seed users and parameters drawn from the workload
  * seed. (CR-1/4/5/11 are left out: with them a batch takes about three
  * times as long, which the run budget does not allow.)
  *
  * Like LDBC Interactive's mix, a batch holds more short reads than
  * complex ones: the three CR shapes for one seed user and the two micro
  * queries for every seed user. With as many users as CR shapes, a third
  * of the queries are 2-hop counts and the median query is the middle
  * one of them, not one on the edge between two shapes.
  */
object Queries {

  /** One batch per seed user: its CR queries, then every user's micro
    * queries.
    */
  def pick(rng: Random, sf: Double, users: Int): Seq[Seq[Query]] = {
    val nUsers = Synth.nUsers(sf).toInt
    val seeds = Iterator.continually("u" + rng.nextInt(nUsers)).distinct.take(users).toSeq
    def of(xs: Int*): Int = xs(rng.nextInt(xs.size))
    val perUser = seeds.map { u =>
      // parameters come from narrow bands, so that every draw asks for
      // about the same work (LDBC-style parameter curation); the CR-2 date
      // bound is fixed, since its selectivity set most of the latency
      val maxOid = "u5"
      val w6 = of(2, 3); val w12 = of(2, 3); val n12 = 3
      val seed = s"g.V().has('user','oid','$u').out('reply')"
      val byCount = ".order().by(select(values), desc).by(select(keys), asc)"
      Seq(
        Query("cr2", s"cr2/$u/$maxOid", seed +
          s".as('p').in('reply').has('oid', P.lte('$maxOid')).as('m')" +
          ".order().by('oid', desc).by(select('p'), asc).limit(20).select('p', 'm')",
          labeled = true, SynthSql6.cr2Sql(sf, u, maxOid, 20)),
        Query("cr6", s"cr6/$u/$w6", seed +
          s".union(identity(), out('reply')).dedup().has('oid', P.neq('$u'))" +
          s".filter(__.outE('invoke').has('weight', P.gte($w6)))" +
          ".out('invoke').groupCount().by('oid')" + byCount + ".limit(10)",
          labeled = true, SynthSql6.cr6Sql(sf, u, w6.toDouble, 10)),
        Query("cr12", s"cr12/$u/$w12/$n12", seed +
          s".as('friend').outE('invoke').has('weight', P.gte($w12)).inV()" +
          s".filter(__.in('invoke').dedup().count().is(P.gte($n12)))" +
          ".select('friend').groupCount().by('oid')" + byCount + ".limit(20)",
          labeled = true, SynthSql6.cr12Sql(sf, u, w12.toDouble, n12, 20)),
        Query("hop1", s"hop1/$u", s"g.V('$u').out().count()", labeled = false,
          expectCount = Some(g => Reference.hops(g, u)._1)),
        Query("hop2", s"hop2/$u", s"g.V('$u').out().out().count()", labeled = false,
          expectCount = Some(g => Reference.hops(g, u)._2)))
    }
    val micro = perUser.flatMap(_.filter(_.expectCount.isDefined))
    perUser.map(qs => qs.filter(_.expectCount.isEmpty) ++ micro)
  }
}
