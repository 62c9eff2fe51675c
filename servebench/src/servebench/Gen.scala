package servebench

import java.util.SplittableRandom

/** A Cypher request as a client sends it. `op` names the operation in
  * failure reports and answer checks. */
final case class CypherReq(op: String, text: String, params: Map[String, Any])

/** The c01–c16 analytic texts, verbatim as the `c…` gates of
  * `graft.operators.CypherQueries` run them on the virtual TPC-H graph
  * (which is what their answers are checked against). */
object CypherTexts {
  val all: Seq[(String, String, Map[String, Any])] = Seq(
    ("c01_cypher_multihop",
      """MATCH (c:Customer)-[:CUSTOMER_IN_NATION]->(n:Nation)
               -[:NATION_IN_REGION]->(r:Region)
         MATCH (c)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
         RETURN r.name AS region, count(o) AS order_cnt,
                round(sum(o.totalprice), 2) AS total
         ORDER BY region""", Map.empty),
    ("c02_cypher_optional",
      """MATCH (c:Customer)
         OPTIONAL MATCH (c)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
         RETURN c.identifier AS identifier, count(o) AS order_cnt
         ORDER BY identifier""", Map.empty),
    ("c03_cypher_predicates",
      """MATCH (c:Customer)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
         WHERE c.mktsegment IN $segments AND o.status <> 'P'
               AND o.totalprice >= $minTotal
         RETURN c.identifier AS cust, round(sum(o.totalprice), 2) AS spend
         ORDER BY spend DESC, cust LIMIT 25""",
      Map("segments" -> Seq("BUILDING", "MACHINERY"), "minTotal" -> 1000.0)),
    ("c04_cypher_caseagg",
      """MATCH (c:Customer)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
         RETURN c.mktsegment AS mktsegment,
                count(CASE WHEN o.status = 'F' THEN 1 END) AS finished,
                sum(CASE WHEN o.totalprice > 300000.0 THEN 1 ELSE 0 END) AS big,
                round(avg(o.totalprice), 2) AS avg_price
         ORDER BY mktsegment""", Map.empty),
    ("c05_cypher_with_having",
      """MATCH (n:Nation)<-[:CUSTOMER_IN_NATION]-(c:Customer)
         WITH n, count(c) AS customers
         WHERE customers > 30
         RETURN n.name AS nation, customers
         ORDER BY nation""", Map.empty),
    ("c06_cypher_anyrel",
      """MATCH (c:Customer)-[r]->(n)
         RETURN type(r) AS rel_type, count(*) AS cnt
         ORDER BY rel_type""", Map.empty),
    ("c07_cypher_anynode",
      """MATCH (n)
         RETURN label(n) AS label, count(n) AS cnt
         ORDER BY label""", Map.empty),
    ("c08_cypher_undirected",
      """MATCH (n:Nation)-[:CUSTOMER_IN_NATION]-(c:Customer)
         RETURN n.name AS nation, count(c) AS customers
         ORDER BY nation""", Map.empty),
    ("c09_cypher_reltypes",
      """MATCH ()-[r]->()
         RETURN DISTINCT label(r) AS rel_type
         ORDER BY rel_type""", Map.empty),
    ("c10_cypher_unwind",
      """MATCH (c:Customer)
         UNWIND [1, 2] AS bucket
         RETURN c.mktsegment AS seg, bucket, count(*) AS n
         ORDER BY seg, bucket""", Map.empty),
    ("c11_cypher_varany",
      """MATCH (r:Region)<-[*1..2]-(n)
         RETURN label(n) AS lbl, count(*) AS cnt
         ORDER BY lbl""", Map.empty),
    ("c12_cypher_stats",
      """MATCH (c:Customer)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
         RETURN c.mktsegment AS seg,
                toInteger(round(STDEV(o.totalprice), 0)) AS sd,
                count(*) AS n
         ORDER BY seg""", Map.empty),
    ("c13_cypher_exists",
      """MATCH (c:Customer)
         WHERE EXISTS((c)-[:CUSTOMER_PLACED_ORDER]->(o:Order))
               AND c.acctbal > 0
         RETURN 'with_orders' AS grp, count(c) AS cnt
         UNION ALL
         MATCH (c:Customer)
         WHERE NOT EXISTS((c)-[:CUSTOMER_PLACED_ORDER]->(o:Order))
               AND c.acctbal > 0
         RETURN 'without_orders' AS grp, count(c) AS cnt
         ORDER BY grp""", Map.empty),
    ("c14_cypher_rematch",
      """MATCH (c:Customer) WITH count(c) AS total_customers
         MATCH (r:Region)
         RETURN r.name AS region, total_customers
         ORDER BY region""", Map.empty),
    ("c15_cypher_ilike",
      """MATCH (c:Customer) WHERE c.mktsegment ILIKE '%build%'
         RETURN c.identifier AS cust
         ORDER BY cust LIMIT $lim""", Map("lim" -> 10)),
    ("c16_cypher_anyrel_prop",
      """MATCH (c:Customer)-[r]->(n)
         RETURN type(r) AS rel_type, count(*) AS cnt,
                round(sum(r.price), 2) AS total_price
         ORDER BY rel_type"""
      , Map.empty))

  /** Point lookups, parameterized by customer id. LIMIT 100 is above
    * any customer's order count at sf0.1, so it never truncates. */
  val ordersOf =
    """MATCH (c:Customer)-[:CUSTOMER_PLACED_ORDER]->(o:Order)
       WHERE c.identifier = $cid
       RETURN o.identifier AS order_id, o.totalprice AS price,
              o.status AS status
       ORDER BY order_id LIMIT 100"""
  val nationOf =
    """MATCH (c:Customer)-[:CUSTOMER_IN_NATION]->(n:Nation)
       WHERE c.identifier = $cid
       RETURN c.name AS name, c.acctbal AS acctbal, n.name AS nation
       LIMIT 1"""
}

/** The `serve_cypher` request schedule of one client: an endless
  * seeded stream in which every [[AnalyticEvery]]-th request is one of
  * the c01–c16 texts and the rest are point lookups. The texts come in
  * a seeded order, each client starting [[AnalyticEvery]] texts after
  * the previous one, so that a run's clients together cover the texts
  * evenly instead of drawing a random subset. A lookup's customer id
  * follows a Zipf law (exponent [[ZipfS]]) over all customers, ranks
  * mapped to ids through a seeded permutation.
  *
  * The proportions are assumptions, not measured traffic: neither the
  * repository nor the reference it follows holds a request log of the
  * agent path. [[AnalyticEvery]] = 4 keeps both kinds of request in
  * every run (a 10 s run sees about 8 analytic texts and 25 lookups),
  * [[ZipfS]] = 0.9 gives a skewed but mostly uncached key stream, and
  * [[OrdersShare]] splits the lookups between the two templates.
  * Replace them when a trace of real traffic is available. */
final class RequestSchedule(seed: Long, client: Int, nCustomers: Int) {
  import RequestSchedule._
  private val rng = new SplittableRandom(seed * 1000003L + client)
  private val texts = permutation(seed, CypherTexts.all.size)
  private var i = 0

  def next(): CypherReq = {
    i += 1
    if (i % AnalyticEvery == 0) {
      val k = texts((client * AnalyticEvery + i / AnalyticEvery - 1) % texts.length)
      val (op, text, params) = CypherTexts.all(k)
      CypherReq(op, text, params)
    } else {
      val cid = zipf(seed, nCustomers).sample(rng)
      if (rng.nextDouble() < OrdersShare)
        CypherReq("lookup_orders", CypherTexts.ordersOf, Map("cid" -> cid.toString))
      else CypherReq("lookup_nation", CypherTexts.nationOf, Map("cid" -> cid.toString))
    }
  }
}

object RequestSchedule {
  val AnalyticEvery = 4
  val ZipfS = 0.9
  val OrdersShare = 0.7

  def permutation(seed: Long, n: Int): Array[Int] = {
    val ids = Array.range(0, n)
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    for (i <- n - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    ids
  }

  final class Zipf(cdf: Array[Double], ids: Array[Int]) {
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      ids(math.min(i, ids.length - 1))
    }
  }

  private val zipfs = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Zipf]()

  def zipf(seed: Long, n: Int): Zipf = zipfs.computeIfAbsent((seed, n), _ => {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    val cdf = w.map { x => acc += x / total; acc }
    new Zipf(cdf, permutation(seed * 31L + 7L, n))
  })
}

/** One generated filing for one entity: a balanced double-entry ledger
  * (every transaction's debits equal its credits) and XBRL facts, two
  * per (element, quarter), so every fact-grid cell is a known sum. */
final case class Filing(
    k: Int,
    entity: String,
    report: String,
    txns: Seq[Filing.Txn],
    lines: Seq[Filing.Line],
    facts: Seq[Filing.Fact]) {
  def totalDebits: Double = lines.map(_.debit).sum
  /** (element id, period end) → Σ numeric_value. */
  def gridCells: Map[(String, String), Double] =
    facts.groupMapReduce(f => (f.element, Ledger.periodEnd(f.period)))(_.value)(_ + _)
  def rowCount: Long = 2L + txns.size + lines.size + facts.size
  /** Approximate input size: the bytes of every generated value as
    * text — the denominator of write amplification. */
  def inputBytes: Long =
    (entity.length + report.length + 64).toLong +
      txns.map(t => t.id.length + 10 + 8 + t.desc.length).sum +
      lines.map(l => l.id.length + l.txn.length + l.element.length + 16).sum +
      facts.map(f => f.context.length + f.element.length + f.period.length + 3 + 8).sum
}

object Filing {
  final case class Txn(id: String, date: String, desc: String, amount: Double)
  final case class Line(id: String, txn: String, element: String,
      debit: Double, credit: Double)
  final case class Fact(context: String, element: String, period: String,
      value: Double)
}

object Ledger {
  /** Chart of accounts: the program's accounting fixture chart. */
  val elements: Seq[(String, String, String, String)] =
    graft.fixtures.AccountingFixture.chart.map { case (code, name, cls, bal) =>
      (s"elem$code", name, cls, bal)
    }
  /** Quarterly duration periods of FY2024: (id, start, end). */
  val periods: Seq[(String, String, String)] = Seq(
    ("p2024q1", "2024-01-01", "2024-03-31"), ("p2024q2", "2024-04-01", "2024-06-30"),
    ("p2024q3", "2024-07-01", "2024-09-30"), ("p2024q4", "2024-10-01", "2024-12-31"))
  def periodEnd(id: String): String = periods.find(_._1 == id).get._3
  val TxnsPerFiling = 40

  def filing(seed: Long, k: Int): Filing = {
    val rng = new SplittableRandom(seed * 7919L + k)
    val entity = f"ent$k%05d"
    def cents(lo: Int, hi: Int): Double = (lo + rng.nextInt(hi - lo)) / 100.0
    val txns = (0 until TxnsPerFiling).map { i =>
      val month = 1 + rng.nextInt(12)
      val day = 1 + rng.nextInt(28)
      Filing.Txn(f"$entity-t$i%03d", f"2024-$month%02d-$day%02d",
        s"journal $i", cents(10000, 5000000))
    }
    // debit one account, credit one or two others with the amount
    // split in whole cents: Σdebit = Σcredit per transaction
    val lines = txns.flatMap { t =>
      val picks = rng.ints(3, 0, elements.size).toArray
      val debit = Filing.Line(t.id + "-d", t.id, elements(picks(0))._1, t.amount, 0.0)
      if (rng.nextBoolean()) Seq(debit,
        Filing.Line(t.id + "-c", t.id, elements(picks(1))._1, 0.0, t.amount))
      else {
        val total = math.round(t.amount * 100)
        val part = 1 + rng.nextLong(total - 1)
        Seq(debit,
          Filing.Line(t.id + "-c1", t.id, elements(picks(1))._1, 0.0, part / 100.0),
          Filing.Line(t.id + "-c2", t.id, elements(picks(2))._1, 0.0, (total - part) / 100.0))
      }
    }
    val facts = for {
      (el, _, _, _) <- elements
      (p, _, _) <- periods
      ctx <- Seq("reported", "restated")
    } yield Filing.Fact(ctx, el, p, cents(-1000000, 90000000))
    Filing(k, entity, f"rep$k%05d", txns, lines, facts)
  }
}
