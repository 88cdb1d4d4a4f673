package graft.refstar

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate

/** Deterministic generator for the reference's 12 staging CSV entities
  * (schemas and quirks per /root/repo/FIXTURES.md, reconstructed from the
  * reference run logs; golden row counts per BASELINE.md):
  *
  *   channel 5 · channelcategory 2 · customer 3 · product 20 ·
  *   productcategory 4 · producttype 10 · reseller 4 ·
  *   salesdetail 187,320 · salesheader 187,320 · store 6 ·
  *   targetdatachannel 22 · targetdataproduct 48
  *
  * Layout mirrors the reference's one-folder-per-entity stage convention
  * (reference README.md:96-116): `{root}/{entity}/{entity}.csv`.
  * Reproduced quirks: audit columns terminating every entity except the
  * two targetdata files, both observed timestamp styles, M/d/yy sales
  * dates, empty STOREID/RESELLERID on online sales, NULL postal code on
  * one store, empty STYLE values, and the source typos ('Amytheyst',
  * 'Mississipi') that analytical views later match verbatim
  * (rahil/create_views.py:355 filters on exact strings).
  *
  * Everything is seeded-LCG deterministic so the DuckDB oracle and Spark
  * read identical bytes on every run. Generation is driver-side by
  * design: it's test-fixture authoring, not a distributed operator.
  */
object Fixtures {

  /** Bump when fixture content changes so stale directories regenerate. */
  val Version = 3

  def root: String =
    sys.env.getOrElse("GRAFT_FIXTURE_DIR", graft.Fixture.checkoutDir("refstar"))

  def path(entity: String): String = s"$root/$entity/$entity.csv"

  /** Generate (once) and return the fixture root. Thread-safe in-JVM. */
  def ensure(): String = {
    graft.Fixture.versioned(s"$root/VERSION", Version)(generate())
    root
  }

  // ----- static entity data ----------------------------------------------

  val Audit = "2013-01-02 09:15:00,etl_loader,,"
  private val AuditShort = "1/2/13 9:15,etl_loader,,"

  val CustomerIds: IndexedSeq[String] = (1 to 3).map(i =>
    f"0a1b2c3d-1111-4aaa-8bbb-${i}%012d")
  val ResellerIds: IndexedSeq[String] = (1 to 4).map(i =>
    f"5e6f7a8b-2222-4ccc-9ddd-${i}%012d")

  // (id, subsegment, first, last, gender, email, address, city, state, country, postal, phone)
  val Customers = Seq(
    (CustomerIds(0), 5, "Kim", "Alvarez", "F", "kim.alvarez@example.com",
      "12 Pine Street", "Birmingham", "Alabama", "United States", "35203", "205-555-0101"),
    (CustomerIds(1), 3, "Jordan", "Lee", "M", "jordan.lee@example.com",
      "88 Oak Avenue", "Portland", "Oregon", "United States", "97201", "503-555-0102"),
    (CustomerIds(2), 5, "Priya", "Shah", "F", "priya.shah@example.com",
      "450 Maple Court", "Denver", "Colorado", "United States", "80014", "303-555-0103"))

  // (id, subsegment, number, manager, address, city, state, country, postal, phone)
  // Stores 1+2 share California (the multi-store state for VW7); store
  // number '5' and '8' (ids 3, 4) are the VW4/VW6 subjects; store 3 has
  // a NULL postal code to exercise the COALESCE composite lookup.
  val Stores = Seq(
    (1, 2, "1", "Casey Morgan", "100 Market Street", "Sacramento", "California", "United States", "94203", "916-555-0201"),
    (2, 2, "2", "Dana Whitfield", "220 Ocean Drive", "San Diego", "California", "United States", "92101", "619-555-0202"),
    (3, 1, "5", "Riley Chen", "305 Lakeview Road", "Seattle", "Washington", "United States", "", "206-555-0203"),
    (4, 1, "8", "Morgan Patel", "410 Summit Blvd", "Albany", "New York", "United States", "12207", "518-555-0204"),
    (5, 3, "21", "Sam Okafor", "525 Prairie Lane", "Austin", "Texas", "United States", "73301", "512-555-0205"),
    (6, 3, "34", "Lee Fontaine", "640 River Walk", "Chicago", "Illinois", "United States", "60601", "312-555-0206"))

  // (id, contact, email, address, city, state, country, postal, phone, name)
  val Resellers = Seq(
    (ResellerIds(0), "Alex Rivera", "alex@brightbazaar.example", "77 Harbor Way", "Boston", "Massachusetts", "United States", "02108", "617-555-0301", "Bright Bazaar"),
    (ResellerIds(1), "Sana Idris", "sana@craftycorner.example", "910 Cedar Street", "Jackson", "Mississipi", "United States", "39201", "601-555-0302", "Crafty Corner"),
    (ResellerIds(2), "Tom Becker", "tom@velvetvine.example", "33 Birch Road", "Madison", "Wisconsin", "United States", "53703", "608-555-0303", "Velvet Vine"),
    (ResellerIds(3), "Ana Costa", "ana@northwind.example", "58 Canyon Drive", "Phoenix", "Arizona", "United States", "85001", "602-555-0304", "Northwind Trading"))

  val Channels = Seq(
    (1, 1, "Boutiques"), (2, 1, "Department Stores"), (3, 1, "Specialty Stores"),
    (4, 2, "Online"), (5, 1, "Outlets"))
  val ChannelCategories = Seq((1, "Retail"), (2, "Online"))

  val ProductCategories = Seq(
    (1, "Apparel"), (2, "Jewelry"), (3, "Accessories"), (4, "Footwear"))
  val ProductTypes = Seq(
    (1, 1, "Men's Casual"), (2, 1, "Women's Casual"), (3, 1, "Men's Formal"),
    (4, 1, "Women's Formal"), (5, 2, "Necklaces"), (6, 2, "Rings"),
    (7, 3, "Belts"), (8, 3, "Handbags"), (9, 4, "Sneakers"), (10, 4, "Boots"))

  // (id, typeId, name, color, style, uomId, weight, price, cost, wholesale)
  val Products = Seq(
    (1, 1, "Crew Tee", "Red", "Relaxed", 3, 0.4, 13.95, 5.0, 9.5),
    (2, 1, "Denim Jacket", "Blue", "Classic", 3, 1.2, 49.95, 22.0, 35.0),
    (3, 2, "Summer Dress", "Yellow", "A-Line", 3, 0.5, 39.95, 15.0, 27.5),
    (4, 2, "Capri Pants", "Navy", "Slim", 3, 0.6, 29.95, 12.0, 21.0),
    (5, 3, "Oxford Shirt", "White", "Tailored", 3, 0.5, 44.95, 18.0, 31.0),
    (6, 3, "Wool Suit", "Charcoal", "Modern", 3, 2.0, 199.95, 90.0, 140.0),
    (7, 4, "Silk Blouse", "Ivory", "Fitted", 3, 0.3, 59.95, 25.0, 42.0),
    (8, 4, "Pencil Skirt", "Black", "Classic", 3, 0.4, 34.95, 14.0, 24.5),
    (9, 5, "Amytheyst Necklace", "Purple", "", 2, 0.1, 79.95, 30.0, 56.0),
    (10, 5, "Pearl Strand", "White", "", 2, 0.1, 129.95, 55.0, 91.0),
    (11, 6, "Gold Band", "Gold", "", 2, 0.05, 149.95, 70.0, 105.0),
    (12, 6, "Silver Ring", "Silver", "", 2, 0.05, 59.95, 24.0, 42.0),
    (13, 7, "Leather Belt", "Brown", "", 3, 0.3, 24.95, 9.0, 17.5),
    (14, 7, "Canvas Belt", "Green", "", 3, 0.2, 14.95, 5.0, 10.5),
    (15, 8, "Tote Bag", "Tan", "", 3, 0.8, 69.95, 28.0, 49.0),
    (16, 8, "Clutch", "Black", "", 3, 0.3, 44.95, 17.0, 31.5),
    (17, 9, "Court Sneaker", "White", "Low", 1, 0.9, 64.95, 26.0, 45.5),
    (18, 9, "Trail Runner", "Gray", "Sport", 1, 0.95, 84.95, 34.0, 59.5),
    (19, 10, "Chelsea Boot", "Black", "Ankle", 1, 1.1, 119.95, 48.0, 84.0),
    (20, 10, "Hiking Boot", "Brown", "High", 1, 1.3, 139.95, 56.0, 98.0))

  /** 40 real-product targets + 8 targets for products missing from the
    * dimension (the unknown-member fallback path): (pid, name, year, qty).
    */
  val TargetDataProduct: Seq[(Int, String, Int, Int)] = {
    val real = for {
      (pid, _, name, _, _, _, _, _, _, _) <- Products
      year <- Seq(2013, 2014)
    } yield (pid, name, year,
      if (year == 2013) 8000 + pid * 700 else 9000 + pid * 650)
    val ghosts = Seq(
      (21, "Discontinued Cap"), (22, "Discontinued Scarf"),
      (23, "Legacy Sandal"), (24, "Retired Watch"))
    val ghostRows = for {
      ((pid, name), k) <- ghosts.zipWithIndex
      year <- Seq(2013, 2014)
    } yield (pid, name, year, 3000 + k * 900 + (if (year == 2014) -400 else 0))
    real ++ ghostRows
  }

  /** 11 channel/name targets per year; TARGETNAME matches store names,
    * reseller names, or nothing (→ both FK fallbacks in the fact load).
    */
  val TargetDataChannel: Seq[(Int, String, String, Double)] = for {
    year <- Seq(2013, 2014)
    ((ch, tn), k) <- Seq(
      ("Boutiques", "Store 1"), ("Boutiques", "Store 5"),
      ("Department Stores", "Store 8"),
      ("Department Stores", "Indiana Department Store"),
      ("Specialty Stores", "Store 21"), ("Outlets", "Store 34"),
      ("Online", "Bright Bazaar"), ("Online", "Crafty Corner"),
      ("Boutiques", "Velvet Vine"), ("Specialty Stores", "Northwind Trading"),
      ("Online", "Acme Webshop")).zipWithIndex
  } yield (year, ch, tn,
    (2500000 + k * 750000 + (if (year == 2014) 500000 else 0)).toDouble)

  val SalesRows = 187320

  // ----- deterministic sales generation ------------------------------------

  /** 31-bit LCG; same stream on every run. */
  private final class Lcg(seed: Long) {
    private var x = seed
    def next(): Long = { x = (x * 1103515245L + 12345L) & 0x7fffffffL; x }
    def pick(n: Int): Int = (next() % n).toInt
  }

  private val Epoch = LocalDate.of(2013, 1, 1)

  private def mdyy(d: LocalDate): String =
    s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear % 100}"

  /** One salesheader row: id, M/d/yy date, channel, then exactly one of
    * storeid / customerid / resellerid (online → customer).
    */
  private def headerRow(i: Int, r: Lcg): String = {
    val date = mdyy(Epoch.plusDays(r.pick(730).toLong))
    val ch = r.pick(5) + 1
    val (store, cust, res) =
      if (ch == 4) ("", CustomerIds(r.pick(3)), "")
      else if (r.pick(10) < 7) ((r.pick(6) + 1).toString, "", "")
      else ("", "", ResellerIds(r.pick(4)))
    s"$i,$date,$ch,$store,$cust,$res,$AuditShort"
  }

  private def detailRow(i: Int, r: Lcg): String = {
    val pid = r.pick(20) + 1
    val qty = r.pick(50) + 1
    val price = Products(pid - 1)._8
    val amount = f"${qty * price}%.2f"
    s"$i,$i,$pid,$qty,$amount,$AuditShort"
  }

  // ----- CSV writing --------------------------------------------------------

  private def write(entity: String, header: String, rows: Iterator[String]): Unit = {
    val dir = new File(s"$root/$entity")
    dir.mkdirs()
    val w = new BufferedWriter(new FileWriter(new File(dir, s"$entity.csv")), 1 << 20)
    try {
      w.write(header); w.newLine()
      rows.foreach { r => w.write(r); w.newLine() }
    } finally w.close()
  }

  private def generate(): Unit = {
    write("channel",
      "CHANNELID,CHANNELCATEGORYID,CHANNEL,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Channels.iterator.map { case (id, cat, nm) => s"$id,$cat,$nm,$AuditShort" })

    write("channelcategory",
      "CHANNELCATEGORYID,CHANNELCATEGORY,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      ChannelCategories.iterator.map { case (id, nm) => s"$id,$nm,$AuditShort" })

    write("customer",
      "CUSTOMERID,SUBSEGMENTID,FIRSTNAME,LASTNAME,GENDER,EMAILADDRESS,ADDRESS,CITY," +
        "STATEPROVINCE,COUNTRY,POSTALCODE,PHONENUMBER,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Customers.iterator.map { case (id, seg, f, l, g, em, ad, ci, st, co, po, ph) =>
        s"$id,$seg,$f,$l,$g,$em,$ad,$ci,$st,$co,$po,$ph,$Audit" })

    write("product",
      "PRODUCTID,PRODUCTTYPEID,PRODUCT,COLOR,STYLE,UNITOFMEASUREID,WEIGHT,PRICE,COST," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY,WHOLESALEPRICE",
      Products.iterator.map { case (id, tid, nm, co, sty, uom, wt, pr, cost, ws) =>
        s"$id,$tid,$nm,$co,$sty,$uom,$wt,$pr,$cost,$Audit,$ws" })

    write("productcategory",
      "PRODUCTCATEGORYID,PRODUCTCATEGORY,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      ProductCategories.iterator.map { case (id, nm) => s"$id,$nm,$Audit" })

    write("producttype",
      "PRODUCTTYPEID,PRODUCTCATEGORYID,PRODUCTTYPE,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      ProductTypes.iterator.map { case (id, cat, nm) => s"$id,$cat,$nm,$Audit" })

    write("reseller",
      "RESELLERID,CONTACT,EMAILADDRESS,ADDRESS,CITY,STATEPROVINCE,COUNTRY,POSTALCODE," +
        "PHONENUMBER,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY,RESELLERNAME",
      Resellers.iterator.map { case (id, ct, em, ad, ci, st, co, po, ph, nm) =>
        s"$id,$ct,$em,$ad,$ci,$st,$co,$po,$ph,$Audit,$nm" })

    write("store",
      "STOREID,SUBSEGMENTID,STORENUMBER,STOREMANAGER,ADDRESS,CITY,STATEPROVINCE," +
        "COUNTRY,POSTALCODE,PHONENUMBER,CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Stores.iterator.map { case (id, seg, num, mgr, ad, ci, st, co, po, ph) =>
        s"$id,$seg,$num,$mgr,$ad,$ci,$st,$co,$po,$ph,$Audit" })

    val hr = new Lcg(20260812L)
    write("salesheader",
      "SALESHEADERID,DATE,CHANNELID,STOREID,CUSTOMERID,RESELLERID," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Iterator.range(1, SalesRows + 1).map(i => headerRow(i, hr)))

    val dr = new Lcg(19930411L)
    write("salesdetail",
      "SALESDETAILID,SALESHEADERID,PRODUCTID,SALESQUANTITY,SALESAMOUNT," +
        "CREATEDDATE,CREATEDBY,MODIFIEDDATE,MODIFIEDBY",
      Iterator.range(1, SalesRows + 1).map(i => detailRow(i, dr)))

    write("targetdatachannel",
      "YEAR,CHANNELNAME,TARGETNAME,TARGETSALESAMOUNT",
      TargetDataChannel.iterator.map { case (y, ch, tn, amt) =>
        s"$y,$ch,$tn,${amt.toLong}" })

    write("targetdataproduct",
      "PRODUCTID,PRODUCT,YEAR,SALESQUANTITYTARGET",
      TargetDataProduct.iterator.map { case (pid, nm, y, q) => s"$pid,$nm,$y,$q" })
  }
}
