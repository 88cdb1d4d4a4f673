package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.refstar.Fixtures

/** Seeded generator of the 12 staging CSVs the reference ELT loads.
  *
  * The entity and target rows are `Fixtures`' public values, written in
  * the same layout and quirks as `Fixtures.generate`; only the two sales
  * files depend on the seed. The row count stays at the reference's
  * golden size (`Fixtures.SalesRows`), so timings remain comparable with
  * the reference's dimensional ETL. The `VERSION` marker equals
  * `Fixtures.Version`, which makes `Fixtures.ensure` accept the directory
  * as-is instead of regenerating it.
  */
object Gen {

  /** Same stamp as the one Fixtures writes on salesheader/salesdetail. */
  private val AuditShort = "1/2/13 9:15,etl_loader,,"

  private val Epoch = LocalDate.of(2013, 1, 1)

  /** 31-bit LCG, the generator Fixtures uses, started from a seed. */
  private final class Lcg(seed: Long) {
    private var x = seed & 0x7fffffffL
    def next(): Long = { x = (x * 1103515245L + 12345L) & 0x7fffffffL; x }
    def pick(n: Int): Int = (next() % n).toInt
  }

  /** splitmix64 finaliser: nearby seeds give unrelated streams. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def mdyy(d: LocalDate): String =
    s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear % 100}"

  private def headerRow(i: Int, r: Lcg): String = {
    val date = mdyy(Epoch.plusDays(r.pick(730).toLong))
    val ch = r.pick(5) + 1
    val (store, cust, res) =
      if (ch == 4) ("", Fixtures.CustomerIds(r.pick(3)), "")
      else if (r.pick(10) < 7) ((r.pick(6) + 1).toString, "", "")
      else ("", "", Fixtures.ResellerIds(r.pick(4)))
    s"$i,$date,$ch,$store,$cust,$res,$AuditShort"
  }

  private def detailRow(i: Int, r: Lcg): String = {
    val pid = r.pick(20) + 1
    val qty = r.pick(50) + 1
    val amount = f"${qty * Fixtures.Products(pid - 1)._8}%.2f"
    s"$i,$i,$pid,$qty,$amount,$AuditShort"
  }

  /** Entity name -> (data rows, file bytes). */
  type Sizes = Map[String, (Long, Long)]

  /** Write all 12 entities under `root/{entity}/{entity}.csv`. */
  def generate(root: String, seed: Long): Sizes = {
    val sizes = Map.newBuilder[String, (Long, Long)]
    def write(entity: String, header: String, rows: Iterator[String]): Unit = {
      val dir = new File(s"$root/$entity")
      dir.mkdirs()
      val f = new File(dir, s"$entity.csv")
      val w = new BufferedWriter(new FileWriter(f), 1 << 20)
      var n = 0L
      try {
        w.write(header); w.newLine()
        rows.foreach { r => w.write(r); w.newLine(); n += 1 }
      } finally w.close()
      sizes += entity -> (n, f.length())
    }
    val audit = Fixtures.Audit

    write("channel",
      "CHANNELID,CHANNELCATEGORYID,CHANNEL,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Fixtures.Channels.iterator.map { case (id, cat, nm) => s"$id,$cat,$nm,$AuditShort" })
    write("channelcategory",
      "CHANNELCATEGORYID,CHANNELCATEGORY,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Fixtures.ChannelCategories.iterator.map { case (id, nm) => s"$id,$nm,$AuditShort" })
    write("customer",
      "CUSTOMERID,SUBSEGMENTID,FIRSTNAME,LASTNAME,GENDER,EMAILADDRESS,ADDRESS,CITY," +
        "STATEPROVINCE,COUNTRY,POSTALCODE,PHONENUMBER,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Fixtures.Customers.iterator.map { case (id, seg, f, l, g, em, ad, ci, st, co, po, ph) =>
        s"$id,$seg,$f,$l,$g,$em,$ad,$ci,$st,$co,$po,$ph,$audit" })
    write("product",
      "PRODUCTID,PRODUCTTYPEID,PRODUCT,COLOR,STYLE,UNITOFMEASUREID,WEIGHT,PRICE,COST," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY,WHOLESALEPRICE",
      Fixtures.Products.iterator.map { case (id, tid, nm, co, sty, uom, wt, pr, cost, ws) =>
        s"$id,$tid,$nm,$co,$sty,$uom,$wt,$pr,$cost,$audit,$ws" })
    write("productcategory",
      "PRODUCTCATEGORYID,PRODUCTCATEGORY,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Fixtures.ProductCategories.iterator.map { case (id, nm) => s"$id,$nm,$audit" })
    write("producttype",
      "PRODUCTTYPEID,PRODUCTCATEGORYID,PRODUCTTYPE,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Fixtures.ProductTypes.iterator.map { case (id, cat, nm) => s"$id,$cat,$nm,$audit" })
    write("reseller",
      "RESELLERID,CONTACT,EMAILADDRESS,ADDRESS,CITY,STATEPROVINCE,COUNTRY,POSTALCODE," +
        "PHONENUMBER,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY,RESELLERNAME",
      Fixtures.Resellers.iterator.map { case (id, ct, em, ad, ci, st, co, po, ph, nm) =>
        s"$id,$ct,$em,$ad,$ci,$st,$co,$po,$ph,$audit,$nm" })
    write("store",
      "STOREID,SUBSEGMENTID,STORENUMBER,STOREMANAGER,ADDRESS,CITY,STATEPROVINCE," +
        "COUNTRY,POSTALCODE,PHONENUMBER,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Fixtures.Stores.iterator.map { case (id, seg, num, mgr, ad, ci, st, co, po, ph) =>
        s"$id,$seg,$num,$mgr,$ad,$ci,$st,$co,$po,$ph,$audit" })

    val hr = new Lcg(mix(seed))
    write("salesheader",
      "SALESHEADERID,DATE,CHANNELID,STOREID,CUSTOMERID,RESELLERID," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Iterator.range(1, Fixtures.SalesRows + 1).map(i => headerRow(i, hr)))
    val dr = new Lcg(mix(~seed))
    write("salesdetail",
      "SALESDETAILID,SALESHEADERID,PRODUCTID,SALESQUANTITY,SALESAMOUNT," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Iterator.range(1, Fixtures.SalesRows + 1).map(i => detailRow(i, dr)))

    write("targetdatachannel",
      "YEAR,CHANNELNAME,TARGETNAME,TARGETSALESAMOUNT",
      Fixtures.TargetDataChannel.iterator.map { case (y, ch, tn, amt) =>
        s"$y,$ch,$tn,${amt.toLong}" })
    write("targetdataproduct",
      "PRODUCTID,PRODUCT,YEAR,SALESQUANTITYTARGET",
      Fixtures.TargetDataProduct.iterator.map { case (pid, nm, y, q) => s"$pid,$nm,$y,$q" })

    Files.write(Paths.get(root, "VERSION"), Fixtures.Version.toString.getBytes)
    sizes.result()
  }
}
