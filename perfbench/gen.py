"""Seeded input generators for the benchmark.

Two families:

* ``write_tables`` writes the TPC-H-shaped ``supplier``, ``orders`` and
  ``lineitem`` tables the graph queries read, one Parquet file per table,
  with the schemas, value domains and join-key layout of the harness
  fixtures (FIXTURES.md section A).
* ``claims_batches`` builds the eight MercuryGate claims tables (FIXTURES.md
  section B) as a first-day batch and two smaller daily batches, and
  ``write_claims`` writes them as header CSVs.  The returned batches keep
  every generated row with its typed values, so the checks can derive what
  bronze and silver must hold without asking the program.

The same seed gives byte-identical files; only ``numpy``'s seeded
``Generator`` and ``random.Random`` are used, never the clock.
"""
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# TPC-H-shaped tables
# --------------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sf0.1 row counts of the harness fixtures; customer and part are key
# ranges only (orders.o_custkey, lineitem.l_partkey)
SF01 = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000}

EPOCH = np.datetime64("1970-01-01", "D")


def _days(a, b):
    return (np.datetime64(a, "D") - EPOCH).astype(np.int64), \
           (np.datetime64(b, "D") - EPOCH).astype(np.int64)


def _ts_ms(days):
    return pa.array(days.astype(np.int64) * 86400000, pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def write_tables(out_dir, seed, tables, scale):
    """Write the named tables at ``scale`` times the sf0.1 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(k * scale)) for t, k in SF01.items()}
    for name in tables:
        # one stream per table, so a subset is the same bytes as the full set
        rng = np.random.default_rng([seed, sorted(TABLE_GENS).index(name)])
        _write(out_dir, name, TABLE_GENS[name](rng, n))


def _supplier(rng, n):
    k = n["supplier"]
    return {"s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k)}


def _orders(rng, n):
    k = n["orders"]
    lo, hi = _days("1995-01-01", "2001-08-01")
    return {"o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _ts_ms(rng.integers(lo, hi + 1, k)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)]}


def _lineitem(rng, n):
    k = n["lineitem"]
    lo, hi = _days("1995-01-02", "2001-11-04")
    qty = rng.integers(1, 51, k).astype(np.float64)
    return {"l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, k), 2),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _ts_ms(rng.integers(lo, hi + 1, k))}


TABLE_GENS = {"supplier": _supplier, "orders": _orders, "lineitem": _lineitem}

# --------------------------------------------------------------------------
# Claims batches (FIXTURES.md section B)
# --------------------------------------------------------------------------

# (source column, silver column, kind); kinds: int, float, str, date, ts.
# Source names are the keys of the reference's rename maps; silver names
# their targets.  Written out here, apart from the program, so the checks
# hold the program to the reference rather than to itself.
_S = "str"
CLAIM = [
    ("claimid", "claim_id", "int"), ("accountid", "account_id", "int"),
    ("claimnumber", "claim_number", _S), ("claimtype", "claim_type", _S),
    ("statuscodeid", "status_code_id", "int"), ("statuscode", "status_code", _S),
    ("reasoncodeid", "reason_code_id", "int"), ("reason", "reason", _S),
    ("claimrep", "claim_rep", _S), ("company", "company", _S),
    ("companycode", "company_code", _S), ("claimant", "claim_ant", _S),
    ("claimantcode", "claim_ant_code", _S),
    ("claimantline1", "claim_ant_line1", _S),
    ("claimantline2", "claim_ant_line2", _S),
    ("claimantline3", "claim_ant_line3", _S), ("contact", "contact", _S),
    ("claimantcontactphone", "claim_ant_contact_phone", _S),
    ("shipper", "shipper", _S), ("shippercode", "shipper_code", _S),
    ("shipperline1", "shipper_line1", _S), ("shipperline2", "shipper_line2", _S),
    ("shipperline3", "shipper_line3", _S),
    ("deliverydate", "delivery_date", "ts"),
    ("shipmentdate", "shipment_date", "date"),
    ("billladingcarrier", "bill_lading_carrier", _S),
    ("deliverycarrier", "delivery_carrier", _S),
    ("carrierclaimnumber", "carrier_claim_number", _S),
    ("carrierbol", "carrier_bol", _S), ("carrierscac", "carrier_scac", _S),
    ("carrier", "carrier", _S), ("carriercode", "carrier_code", _S),
    ("carrierline1", "carrier_line1", _S), ("carrierline2", "carrier_line2", _S),
    ("carrierline3", "carrier_line3", _S), ("customer", "customer", _S),
    ("customercode", "customer_code", _S),
    ("customerline1", "customer_line1", _S),
    ("customerline2", "customer_line2", _S),
    ("customerline3", "customer_line3", _S),
    ("originterminal", "origin_terminal", _S),
    ("originliabilitypct", "origin_liability_pct", "float"),
    ("destinationterminal", "destination_terminal", _S),
    ("destinationliabilitypct", "destination_liability_pct", "float"),
    ("legalliabilityreserves", "legal_liability_reserves", "float"),
    ("transmittalamount", "transmittal_amount", "float"),
    ("deniedamount", "denied_amount", "float"),
    ("freightamount", "freight_amount", "float"),
    ("addlchargesamount", "addl_charges_amount", "float"),
    ("totalamount", "total_amount", "float"),
    ("paymentamount", "payment_amount", "float"),
    ("outstandingamount", "outstanding_amount", "float"),
    ("updatedate", "update_date", "ts"), ("datecreated", "date_created", "ts"),
    ("datefiled", "date_filed", "date"), ("datemailed", "date_mailed", "date"),
    ("dateacknowledged", "date_acknowledged", "date"),
    ("dateclosed", "date_closed", "date"), ("datepaid", "date_paid", "date"),
    ("datereopened", "date_reopened", "date"),
    ("osdsubmitdate", "osd_submit_date", "date"),
    ("datereimburse", "date_reimburse", "date"), ("comments", "comments", _S),
    ("transportationmode", "transportation_mode", _S),
    ("vehiclenumber", "vehicle_number", _S), ("inoutbound", "in_out_bound", _S),
    ("datecancelled", "date_cancelled", "date"),
    ("cancelreason", "cancel_reason", _S),
    ("daterejected", "date_rejected", "date"),
    ("rejectedreason", "rejected_reason", _S),
    ("datedenied", "date_denied", "date"), ("denialreason", "denial_reason", _S),
    ("dateapproval", "date_approval", "date"),
    ("approvalreason", "approval_reason", _S), ("claimgroup", "claim_group", _S),
]
assert len(CLAIM) == 75

_ROW = [("rowid", "row_id", "int"), ("claimnumber", "claim_number", _S)]
_ACC = ("accountid", "account_id", "int")
_CREATED = ("datecreated", "date_created", "ts")
CHILDREN = {
    "claim_activity": _ROW + [("display", "display", _S),
                              ("dateof", "date_of", "ts"), _ACC, _CREATED],
    "claim_additionalcharge": _ROW + [
        ("chargetype", "charge_type", _S), ("description", "description", _S),
        ("amount", "amount", "float"), _ACC, _CREATED],
    "claim_additionalinfo": _ROW + [("customfield", "custom_field", _S),
                                    ("value", "value", _S), _ACC, _CREATED],
    "claim_diary": _ROW + [
        ("dateof", "date_of", "ts"), ("lastupdatedname", "last_updated_name", _S),
        ("category", "category", _S), ("comments", "comments", _S), _ACC],
    "claim_document": _ROW + [("display", "display", _S), ("value", "value", _S),
                              ("dateof", "date_of", "ts"), _ACC, _CREATED],
    "claim_payment": _ROW + [
        ("payee", "payee", _S), ("payeecode", "payee_code", _S),
        ("payeeline1", "payee_line1", _S), ("payeeline2", "payee_line2", _S),
        ("payeeline3", "payee_line3", _S), ("paymenttype", "payment_type", _S),
        ("paymentamount", "payment_amount", "float"),
        ("paymentdate", "payment_date", "date"), ("comments", "comments", _S),
        ("requestedby", "requested_by", _S),
        ("requestdate", "request_date", "date"),
        ("approvedby", "approved_by", _S),
        ("approvaldate", "approval_date", "date"),
        ("checknumber", "check_number", _S), ("checkdate", "check_date", "date"),
        ("transtype", "trans_type", _S), ("transnumber", "trans_number", _S),
        ("transdate", "trans_date", "date"), _ACC, _CREATED],
    "claim_product": _ROW + [
        ("itemnumber", "item_number", _S), ("description", "description", _S),
        ("NMFC", "NMFC", _S), ("quantity", "quantity", "int"),
        ("unitcost", "unit_cost", "float"), ("weight", "weight", "float"),
        ("linetotal", "line_total", "float"), _ACC, _CREATED],
}
COLUMNS = {"claim": CLAIM, **CHILDREN}
TABLES = list(COLUMNS)
# The record key of each table: one silver row per key.
KEY = {t: ("claimnumber" if t == "claim" else "rowid") for t in TABLES}

WORDS = ["open", "closed", "pending", "review", "damage", "shortage", "loss",
         "freight", "carrier", "invoice", "pallet", "crate", "north", "south",
         "east", "west", "dock", "yard", "hub", "depot"]
MODES = ["TL", "LTL", "Parcel", "Intermodal", "Air"]
DATE0 = dt.datetime(2019, 1, 1)
MONTHS = 72  # the datecreated span, from DATE0
RESEND = 0.1  # share of records sent a second time in a batch, as a later version
CHILD_ROWS = (1, 5)  # rows per claim in each child table
DAYS = 3  # a first load, then daily refreshes


def _fmt(v, kind):
    if v is None:
        return ""
    if kind == "float":
        return f"{v:.2f}"
    return str(v)


def _day(d):
    return d.strftime("%Y-%m-%d")


def _sec(d):
    return d.strftime("%Y-%m-%d %H:%M:%S")


class _Claims:
    """Row factory; every random choice goes through one seeded Random."""

    def __init__(self, seed):
        self.r = random.Random(seed)
        self.next_row = 1
        self.span_s = (MONTHS * 365 // 12) * 86400

    def w(self, k=2):
        return " ".join(self.r.choice(WORDS) for _ in range(k))

    def created(self):
        return DATE0 + dt.timedelta(seconds=self.r.randrange(self.span_s))

    def maybe_day(self, base, p):
        if self.r.random() >= p:
            return None
        return _day(base + dt.timedelta(days=self.r.randrange(1, 200)))

    def money(self, hi):
        return round(self.r.uniform(0, hi), 2)

    def claim(self, num, created, version):
        r = self.r
        upd = created + dt.timedelta(days=30 * version + r.randrange(30),
                                     seconds=r.randrange(86400))
        row = {
            "claimid": 100000 + num, "accountid": 1 + num % 97,
            "claimnumber": f"CLM{num:08d}", "claimtype": r.choice(["OSD", "Cargo", "Refund"]),
            "statuscodeid": 1 + version, "statuscode": ["OPEN", "REVIEW", "CLOSED", "PAID"][min(version, 3)],
            "reasoncodeid": r.randrange(1, 40), "reason": self.w(),
            "claimrep": f"rep{r.randrange(60)}", "company": f"company {self.w(1)}",
            "companycode": f"C{r.randrange(500):04d}", "claimant": self.w(),
            "claimantcode": f"CL{r.randrange(9000):05d}",
            "claimantline1": f"{r.randrange(1, 9999)} {self.w(1)} st",
            "claimantline2": None if r.random() < 0.7 else f"suite {r.randrange(900)}",
            "claimantline3": f"{self.w(1)} city", "contact": self.w(),
            "claimantcontactphone": f"555-{r.randrange(10000):04d}",
            "shipper": self.w(), "shippercode": f"S{r.randrange(3000):05d}",
            "shipperline1": f"{r.randrange(1, 9999)} {self.w(1)} ave",
            "shipperline2": None, "shipperline3": f"{self.w(1)} town",
            "deliverydate": _sec(created - dt.timedelta(days=r.randrange(1, 60))),
            "shipmentdate": _day(created - dt.timedelta(days=r.randrange(60, 120))),
            "billladingcarrier": self.w(1), "deliverycarrier": self.w(1),
            "carrierclaimnumber": f"CC{r.randrange(10**7):07d}",
            "carrierbol": f"BOL{r.randrange(10**8):08d}",
            "carrierscac": "".join(r.choice("ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(4)),
            "carrier": self.w(), "carriercode": f"K{r.randrange(800):04d}",
            "carrierline1": f"{r.randrange(1, 9999)} {self.w(1)} rd",
            "carrierline2": None, "carrierline3": f"{self.w(1)} port",
            "customer": self.w(), "customercode": f"U{r.randrange(5000):05d}",
            "customerline1": f"{r.randrange(1, 9999)} {self.w(1)} blvd",
            "customerline2": None if r.random() < 0.8 else f"floor {r.randrange(40)}",
            "customerline3": f"{self.w(1)} ville",
            "originterminal": f"T{r.randrange(90):03d}",
            "originliabilitypct": round(r.randrange(0, 101) * 1.0, 2),
            "destinationterminal": f"T{r.randrange(90):03d}",
            "destinationliabilitypct": round(r.randrange(0, 101) * 1.0, 2),
            "legalliabilityreserves": self.money(5000),
            "transmittalamount": self.money(20000), "deniedamount": self.money(3000),
            "freightamount": self.money(8000), "addlchargesamount": self.money(900),
            "totalamount": self.money(30000), "paymentamount": self.money(25000),
            "outstandingamount": self.money(10000),
            "updatedate": _sec(upd), "datecreated": _sec(created),
            "datefiled": _day(created + dt.timedelta(days=r.randrange(0, 5))),
            "datemailed": self.maybe_day(created, 0.6),
            "dateacknowledged": self.maybe_day(created, 0.5),
            "dateclosed": self.maybe_day(created, 0.3 * version),
            "datepaid": self.maybe_day(created, 0.25 * version),
            "datereopened": self.maybe_day(created, 0.03),
            "osdsubmitdate": self.maybe_day(created, 0.4),
            "datereimburse": self.maybe_day(created, 0.1),
            "comments": self.w(4), "transportationmode": r.choice(MODES),
            "vehiclenumber": f"V{r.randrange(10**6):06d}",
            "inoutbound": r.choice(["Inbound", "Outbound"]),
            "datecancelled": self.maybe_day(created, 0.05),
            "cancelreason": None, "daterejected": self.maybe_day(created, 0.05),
            "rejectedreason": None, "datedenied": self.maybe_day(created, 0.08),
            "denialreason": None, "dateapproval": self.maybe_day(created, 0.4),
            "approvalreason": None, "claimgroup": f"G{r.randrange(12)}",
        }
        for d, why in (("datecancelled", "cancelreason"), ("daterejected", "rejectedreason"),
                       ("datedenied", "denialreason"), ("dateapproval", "approvalreason")):
            if row[d] is not None:
                row[why] = self.w(3)
        return row

    def child(self, table, rowid, num, created):
        r = self.r
        c = created + dt.timedelta(days=r.randrange(0, 90), seconds=r.randrange(86400))
        base = {"rowid": rowid, "claimnumber": f"CLM{num:08d}", "accountid": 1 + num % 97,
                "datecreated": _sec(c)}
        if table == "claim_activity":
            base.update(display=self.w(3), dateof=_sec(c + dt.timedelta(hours=r.randrange(72))))
        elif table == "claim_additionalcharge":
            base.update(chargetype=r.choice(["fuel", "detention", "lumper", "storage"]),
                        description=self.w(3), amount=self.money(1500))
        elif table == "claim_additionalinfo":
            base.update(customfield=f"field{r.randrange(30)}", value=self.w(2))
        elif table == "claim_diary":
            del base["datecreated"]  # the reference diary has no datecreated
            base.update(dateof=_sec(c), lastupdatedname=self.w(1),
                        category=r.choice(["note", "call", "email", "task"]), comments=self.w(5))
        elif table == "claim_document":
            base.update(display=self.w(2), value=f"doc/{r.randrange(10**6)}.pdf",
                        dateof=_sec(c + dt.timedelta(hours=r.randrange(72))))
        elif table == "claim_payment":
            d = lambda k: _day(c + dt.timedelta(days=k + r.randrange(10)))
            base.update(payee=self.w(2), payeecode=f"P{r.randrange(4000):05d}",
                        payeeline1=f"{r.randrange(1, 9999)} {self.w(1)} st", payeeline2=None,
                        payeeline3=f"{self.w(1)} city", paymenttype=r.choice(["check", "ach", "wire"]),
                        paymentamount=self.money(20000), paymentdate=d(20), comments=self.w(3),
                        requestedby=self.w(1), requestdate=d(0), approvedby=self.w(1),
                        approvaldate=d(10), checknumber=f"CHK{r.randrange(10**6):06d}",
                        checkdate=d(20), transtype=r.choice(["PAY", "ADJ"]),
                        transnumber=f"TX{r.randrange(10**7):07d}", transdate=d(25))
        elif table == "claim_product":
            q = r.randrange(1, 40)
            unit = self.money(400)
            base.update(itemnumber=f"IT{r.randrange(10**5):05d}", description=self.w(3),
                        NMFC=f"NMFC-{r.randrange(100000, 199999)}", quantity=q, unitcost=unit,
                        weight=self.money(2000), linetotal=round(q * unit, 2))
        return base

    def revise(self, table, row):
        """A later version of the same child record: some content changes.
        (Claims get a later version by being drawn again.)"""
        out = dict(row)
        if table == "claim_additionalcharge":
            out["amount"] = self.money(1500)
        elif table == "claim_payment":
            out["paymentamount"] = self.money(20000)
            out["comments"] = self.w(3)
        elif table == "claim_product":
            out["quantity"] = self.r.randrange(1, 40)
            out["linetotal"] = round(out["quantity"] * out["unitcost"], 2)
        elif table == "claim_diary":
            out["comments"] = self.w(5)
        elif table in ("claim_activity", "claim_document"):
            out["display"] = self.w(3)
        else:
            out["value"] = self.w(2)
        return out


def claims_batches(seed, n_claims, tables):
    """``DAYS`` daily batches: day 1 has ``n_claims`` claims created over
    ``MONTHS`` months from DATE0, every later day a quarter as many, half of
    them later versions of day-1 claims and half new claims.  Inside each
    batch a ``RESEND`` share of records also appears a second time as a
    later version.  Only ``tables`` (which must hold "claim") are generated.
    Returns {day: {table: [row dicts]}}, rows in file order."""
    g = _Claims(seed)
    r = g.r
    created = {}
    kinds = [t for t in CHILDREN if t in tables]
    batches = {d: {t: [] for t in tables} for d in range(1, DAYS + 1)}
    kids = {}  # claim -> {table: [rows]} of day 1, to revise on later days

    def add_claim(day, num, version):
        b = batches[day]
        b["claim"].append(g.claim(num, created[num], version))
        if r.random() < RESEND:
            b["claim"].append(g.claim(num, created[num], version + 1))

    def add_child(day, table, row):
        b = batches[day][table]
        b.append(row)
        if r.random() < RESEND:
            b.append(g.revise(table, row))

    for num in range(n_claims):
        created[num] = g.created()
        add_claim(1, num, 0)
        kids[num] = {}
        for t in kinds:
            rows = []
            for _ in range(r.randint(*CHILD_ROWS)):
                rows.append(g.child(t, g.next_row, num, created[num]))
                g.next_row += 1
            kids[num][t] = rows
            for row in rows:
                add_child(1, t, row)

    new = n_claims
    for day in range(2, DAYS + 1):
        for i in range(max(1, n_claims // 4)):
            if i % 2 == 0:  # a later version of a day-1 claim and of its children
                num = r.randrange(n_claims)
                add_claim(day, num, 2 * (day - 1))
                for t in kinds:
                    for row in kids[num][t]:
                        add_child(day, t, g.revise(t, row))
            else:  # a new claim
                num, new = new, new + 1
                created[num] = g.created()
                add_claim(day, num, 0)
                for t in kinds:
                    for _ in range(r.randint(*CHILD_ROWS)):
                        add_child(day, t, g.child(t, g.next_row, num, created[num]))
                        g.next_row += 1

    for day in batches.values():
        for rows in day.values():
            r.shuffle(rows)
    return batches


def write_claims(out_dir, batches):
    """One header CSV per (day, table): <out_dir>/day<d>/<table>.csv."""
    for day, tables in batches.items():
        d = os.path.join(out_dir, f"day{day}")
        os.makedirs(d, exist_ok=True)
        for t, rows in tables.items():
            cols = COLUMNS[t]
            p = os.path.join(d, f"{t}.csv")
            with open(p, "w", newline="\n") as f:
                f.write(",".join(c for c, _, _ in cols) + "\n")
                for row in rows:
                    f.write(",".join(_fmt(row[c], k) for c, _, k in cols) + "\n")
