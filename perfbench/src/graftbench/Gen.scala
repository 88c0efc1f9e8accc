package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Seeded input generators. Everything the program reads is produced here
  * from the workload seed, together with the facts the output checks need
  * (expected counts, planted pairs), so a check never trusts the program
  * for its own expectation. */
object Gen {

  /** Zipf-distributed word sampler over a vocabulary of `n` words named
    * `w<rank>`: corpus text shares common words the way real text does,
    * which is what gives BM25 postings and LSH buckets their skew. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def word(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      "w" + Integer.toString(lo, 36)
    }
  }

  private val vocab = new Zipf(30000, 1.0)

  def randomDoc(r: SplittableRandom, minTokens: Int, maxTokens: Int): Array[String] =
    Array.fill(minTokens + r.nextInt(maxTokens - minTokens + 1))(vocab.word(r))

  /** A near-duplicate: one token replaced by a word that is not in the
    * document, so the shingle sets differ in exactly the windows that
    * cover that position. */
  def nearDup(r: SplittableRandom, base: Array[String]): Array[String] = {
    val d = base.clone()
    d(r.nextInt(d.length)) = "x" + Integer.toString(r.nextInt(1 << 30), 36)
    d
  }

  // ---------------------------------------------------------------- banking

  /** Facts about one generated transaction batch that the ETL checks use. */
  final case class TxnBatch(ids: Array[String], dropped: Array[Boolean],
      redelivered: Int)

  private val txnTypes = Array("deposit", "withdrawal", "transfer", "payment")
  private def mixedCase(r: SplittableRandom, s: String): String = r.nextInt(10) match {
    case 0 => s.toUpperCase
    case 1 => s.capitalize
    case _ => s
  }

  private def csvWriter(path: String, header: String): BufferedWriter = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    w.write(header); w.newLine()
    w
  }

  def writeCustomers(path: String, seed: Long, ids: Range): Unit = {
    val r = new SplittableRandom(seed)
    val w = csvWriter(path, "customer_id,first_name,last_name,date_of_birth," +
      "email,phone_number,address,city,state,zip_code,country," +
      "customer_since,credit_score,risk_segment")
    val cities = Array("Springfield", "Riverton", "Lakeside", "")
    val segments = Array("Low", "Medium", "High", "")
    try ids.foreach { i =>
      val city = cities(r.nextInt(cities.length))
      w.write(f"C$i%07d,First$i,Last$i,19${50 + r.nextInt(50)}-0${1 + r.nextInt(9)}-1${r.nextInt(10)}," +
        s"  User$i@Example.COM ,555-${1000 + r.nextInt(9000)},${r.nextInt(999)} Main St,$city,ST,${10000 + r.nextInt(89999)},USA," +
        s"20${10 + r.nextInt(14)}-0${1 + r.nextInt(9)}-0${1 + r.nextInt(9)},${300 + r.nextInt(551)}," +
        segments(r.nextInt(segments.length)))
      w.newLine()
    } finally w.close()
  }

  def writeAccounts(path: String, seed: Long, ids: Range, nCustomers: Int): Unit = {
    val r = new SplittableRandom(seed)
    val w = csvWriter(path, "account_id,customer_id,account_type,account_status," +
      "open_date,close_date,currency,branch_id,interest_rate,balance,last_activity_date")
    val types = Array("checking", "savings", "credit", "loan")
    val statuses = Array("active", "dormant", "closed")
    val curr = Array("USD", "USD", "USD", "EUR", "GBP", "")
    try ids.foreach { i =>
      w.write(f"A$i%07d,C${r.nextInt(nCustomers)}%07d," +
        s"${mixedCase(r, types(r.nextInt(types.length)))}, ${mixedCase(r, statuses(r.nextInt(3)))} ," +
        s"20${10 + r.nextInt(14)}-0${1 + r.nextInt(9)}-1${r.nextInt(10)},," +
        s"${curr(r.nextInt(curr.length))},B${r.nextInt(50)},${r.nextInt(3000) / 100.0}," +
        s"${r.nextInt(10000000) / 100.0},2024-0${1 + r.nextInt(3)}-1${r.nextInt(10)}")
      w.newLine()
    } finally w.close()
  }

  /** One transaction CSV. Account choice is skewed: about `hotRows` rows
    * go to `hotAccounts` hot accounts and fall inside one 28-day span, which
    * puts well over 100 rows in each hot account's 30-day window; the rest
    * spread uniformly over three months and all accounts. Dirty rows:
    * negative lower-case deposits (the clean stage drops these), negative
    * upper-case deposits (kept, the reference quirk), mixed-case types and
    * null merchant fields. `redeliver` re-sends already-loaded ids from
    * `prior` with a new status, so the upsert merge path updates rows as
    * well as inserting them. */
  def writeTransactions(path: String, seed: Long, firstId: Int, n: Int,
      nAccounts: Int, hotAccounts: Int, hotRows: Int,
      prior: Option[TxnBatch], redeliver: Int): TxnBatch = {
    val r = new SplittableRandom(seed)
    val w = csvWriter(path, "transaction_id,account_id,transaction_date," +
      "transaction_type,amount,currency,description,merchant_name," +
      "merchant_category,transaction_status,channel,location,is_international")
    val cats = Array("grocery", "supermarket", "restaurant", "fast food", "gas",
      "fuel", "utility", "electricity", "water", "travel")
    val curr = Array("USD", "USD", "USD", "USD", "USD", "USD", "EUR", "EUR", "GBP", "JPY")
    val locs = Array("USA", "USA", "USA", "Canada", "Mexico", "France", "Brazil", "Japan")
    val channels = Array("online", "branch", "atm")
    val ids = new Array[String](n)
    val dropped = new Array[Boolean](n)
    val redeliverIdx: Set[Int] = prior match {
      case Some(p) =>
        val rr = new SplittableRandom(seed ^ 0x5deece66dL)
        Iterator.continually(rr.nextInt(p.ids.length)).filter(i => !p.dropped(i))
          .distinct.take(redeliver).toSet
      case None => Set.empty
    }
    val redeliverIds = redeliverIdx.toArray.sorted.map(i => prior.get.ids(i))
    try for (i <- 0 until n) {
      val isRedelivery = i < redeliverIds.length
      val id = if (isRedelivery) redeliverIds(i) else f"T${firstId + i}%09d"
      val hot = i % math.max(1, n / hotRows) == 0
      val acct = if (hot) r.nextInt(hotAccounts) else r.nextInt(nAccounts)
      val day = 1 + r.nextInt(28)
      val month = if (hot) 1 else 1 + r.nextInt(3)
      val ts = f"2024-$month%02d-$day%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
      val baseType = txnTypes(r.nextInt(4))
      val negative = !isRedelivery && r.nextInt(50) == 0
      val tpe = if (negative) { if (r.nextBoolean()) "deposit" else "DEPOSIT" }
        else mixedCase(r, baseType)
      val amount = (if (negative) -1 else 1) *
        (1 + r.nextInt(if (r.nextInt(100) == 0) 2000000 else 50000)) / 100.0
      val nullMerchant = r.nextInt(20) == 0
      val cat = if (nullMerchant) "" else cats(r.nextInt(cats.length))
      val merchant = if (nullMerchant) "" else s"M${r.nextInt(500)}"
      val desc = if (nullMerchant) "" else s"purchase $i"
      val status = if (isRedelivery) "reversed" else "completed"
      val loc = locs(r.nextInt(locs.length))
      w.write(f"$id,A$acct%07d,$ts,$tpe,$amount%.2f,${curr(r.nextInt(curr.length))}," +
        s"$desc,$merchant,$cat,$status,${channels(r.nextInt(3))}," +
        s"$loc,${loc != "USA"}")
      w.newLine()
      ids(i) = id
      dropped(i) = tpe == "deposit" && amount < 0
    } finally w.close()
    TxnBatch(ids, dropped, redeliverIds.length)
  }
}
