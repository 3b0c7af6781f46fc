"""Seeded input generator and ground truth for the CDC workloads.

The generator writes the files the pipeline ingests -- customer CSVs and
booking change-feed JSON, shaped like the reference's Cosmos documents and
customer exports -- and, from the same events, computes the expected final
fact, dimension and aggregate tables with plain Python, independently of
the engine. The same seed always gives byte-identical files.

Customers are spread over the 25 TPC-H nations; the base booking count and
the epoch shape are set per workload below.
"""
import datetime as dt
import json
import os
import random
from decimal import Decimal

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
DIM_HEADER = ("customer_id,first_name,last_name,email,phone_number,address,city,"
              "state,country,zip_code,signup_date,last_login,total_bookings,"
              "total_spent,preferred_language,referral_code,account_status")
FIRST = ["Ana", "Ben", "Chen", "Dana", "Eli", "Fatima", "Goran", "Hana", "Ivan", "Jia"]
LAST = ["Ito", "Jones", "Khan", "Lopez", "Meyer", "Nowak", "Okafor", "Park", "Quinn", "Rossi"]
LANGS = ["English", "Spanish", "French", "German", "Japanese", "Arabic"]
STATUSES = ["Active", "Inactive", "Suspended"]
CHANNELS = ["app", "web", "partner"]
DEVICES = ["iOS", "Android", "Desktop"]
REASONS = ["weather", "illness", "change_of_plans", "price", "other"]
EPOCH0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
DAY0 = dt.date(1970, 1, 1)

# base bookings, documents per epoch feed file, cancellation and bad-record
# shares, countries whose customers an epoch touches
WORKLOADS = {
    "trickle_cow": dict(base=50_000, docs=500, cancel=0.04, bad=0.005, countries=2),
}
N_CUSTOMERS = 15_000


def _iso(t):
    return t.isoformat(timespec="microseconds")


class Gen:
    """All state of one seeded generation; methods emit files in order."""

    def __init__(self, seed, spec, n_customers=N_CUSTOMERS):
        self.rng = random.Random(seed)
        self.spec = spec
        self.clock = EPOCH0
        self.next_booking = 0
        self.country_of = {}       # customer_id -> country
        self.dim = {}              # customer_id -> CSV field list (latest)
        self.fact = {}             # booking_id -> doc (latest applied)
        self.confirmed = {c: [] for c in NATIONS}  # country -> open booking ids
        for cid in range(1, n_customers + 1):
            self.country_of[cid] = NATIONS[self.rng.randrange(len(NATIONS))]
        self.customers_by_country = {c: [] for c in NATIONS}
        for cid, c in self.country_of.items():
            self.customers_by_country[c].append(cid)

    # ---- time ----------------------------------------------------------
    def tick(self):
        self.clock += dt.timedelta(microseconds=self.rng.randrange(1_000, 2_000_000))
        return self.clock

    # ---- dimension -----------------------------------------------------
    def customer_row(self, cid, version):
        r = self.rng
        fn, ln = FIRST[r.randrange(10)], LAST[r.randrange(10)]
        signup = dt.date(2024, 1, 1) + dt.timedelta(days=r.randrange(365))
        login = dt.datetime(2025, 1, 1) + dt.timedelta(seconds=r.randrange(200 * 86400))
        return [
            str(cid), fn, ln, f"{fn.lower()}.{ln.lower()}{cid}@example.com",
            f"555-{r.randrange(10000):04d}", f'"{r.randrange(1, 9999)} Main St, Apt {version}"',
            f"City{r.randrange(500)}", f"S{r.randrange(50)}", self.country_of[cid],
            f"{r.randrange(100000):05d}", signup.isoformat(), login.strftime("%Y-%m-%d %H:%M:%S"),
            str(r.randrange(50)), f"{r.randrange(0, 1_000_000) / 100:.2f}",
            LANGS[r.randrange(len(LANGS))], f"ref-{r.randrange(100000)}",
            STATUSES[r.randrange(len(STATUSES))],
        ]

    def dim_csv(self, ids, version):
        lines = [DIM_HEADER]
        for cid in ids:
            row = self.customer_row(cid, version)
            self.dim[cid] = row
            lines.append(",".join(row))
        return "\n".join(lines) + "\n"

    # ---- bookings ------------------------------------------------------
    def insert_doc(self, cid, bad=False):
        r = self.rng
        bid = f"bk{self.next_booking:08d}"
        self.next_booking += 1
        created = self.tick()
        nights = r.randrange(1, 15)
        lead = r.randrange(1, 120)
        checkin = created.date() + dt.timedelta(days=lead)
        checkout = checkin + dt.timedelta(days=-r.randrange(1, 5) if bad else nights)
        price = r.randrange(4000, 40000) / 100
        fee = r.randrange(0, 10000) / 100
        total = round(price * nights + fee, 2)
        return {
            "id": bid, "booking_id": bid, "customer_id": str(cid),
            "listing_id": str(r.randrange(100000, 1000000)), "status": "Confirmed",
            "booking_created_at": _iso(created), "checkin_date": checkin.isoformat(),
            "checkout_date": checkout.isoformat(), "nights": nights, "lead_time_days": lead,
            "guests_adults": r.randrange(1, 5), "guests_children": r.randrange(0, 3),
            "guests_infants": r.randrange(0, 2), "price_nightly": price, "cleaning_fee": fee,
            "total_amount": total, "currency": "USD", "country_code": self.country_of[cid],
            "city": f"City{r.randrange(500)}", "channel": CHANNELS[r.randrange(3)],
            "device_type": DEVICES[r.randrange(3)], "cancellation_ts": None,
            "cancellation_reason": None, "updated_at": _iso(self.tick()),
        }

    def cancel_doc(self, bid):
        doc = dict(self.fact[bid])
        t = self.tick()
        doc.update(status="Cancelled", cancellation_ts=_iso(t),
                   cancellation_reason=REASONS[self.rng.randrange(len(REASONS))],
                   updated_at=_iso(t))
        return doc

    def apply(self, doc):
        """Ground truth: a good document replaces its booking; bad ones drop."""
        if doc["checkout_date"] < doc["checkin_date"]:
            return
        self.fact[doc["booking_id"]] = doc
        c = self.country_of[int(doc["customer_id"])]
        if doc["status"] == "Confirmed":
            self.confirmed[c].append(doc["booking_id"])

    def take_confirmed(self, countries):
        pool = [c for c in countries if self.confirmed[c]]
        if not pool:
            return None
        lst = self.confirmed[pool[self.rng.randrange(len(pool))]]
        i = self.rng.randrange(len(lst))
        lst[i], lst[-1] = lst[-1], lst[i]
        return lst.pop()

    def base_feed(self, n):
        docs = [self.insert_doc(self.rng.randrange(1, len(self.country_of) + 1)) for _ in range(n)]
        for d in docs:
            self.apply(d)
        return docs

    def epoch_feed(self):
        s, r = self.spec, self.rng
        countries = r.sample(NATIONS, s["countries"]) if s["countries"] < len(NATIONS) else NATIONS
        custs = [cid for c in countries for cid in self.customers_by_country[c]]
        docs, kinds = [], {"insert": 0, "update": 0, "bad": 0}
        for _ in range(s["docs"]):
            u = r.random()
            bid = self.take_confirmed(countries) if s["bad"] <= u < s["bad"] + s["cancel"] else None
            if u < s["bad"]:
                docs.append(self.insert_doc(custs[r.randrange(len(custs))], bad=True))
                kinds["bad"] += 1
            elif bid is not None:
                docs.append(self.cancel_doc(bid))
                kinds["update"] += 1
            else:
                docs.append(self.insert_doc(custs[r.randrange(len(custs))]))
                kinds["insert"] += 1
        for d in docs:
            self.apply(d)
        touched = {self.country_of[int(d["customer_id"])] for d in docs
                   if d["checkout_date"] >= d["checkin_date"]}
        shares = {k: v / len(docs) for k, v in kinds.items()}
        shares["changed_country"] = len(touched) / len(NATIONS)
        return docs, shares


def _feed_text(docs):
    return "".join(json.dumps(d, separators=(",", ":")) + "\n" for d in docs)


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def generate(out_dir, workload, seed, epochs):
    """Write the workload's inputs under `out_dir`; return (manifest, gen).

    Layout: base/customers.csv, base/feed.json, epoch_NNN/feed.json.
    """
    spec = WORKLOADS[workload]
    g = Gen(seed, spec)
    _write(f"{out_dir}/base/customers.csv", g.dim_csv(sorted(g.country_of), 0))
    _write(f"{out_dir}/base/feed.json", _feed_text(g.base_feed(spec["base"])))
    per_epoch = []
    for e in range(epochs):
        docs, shares = g.epoch_feed()
        _write(f"{out_dir}/epoch_{e:03d}/feed.json", _feed_text(docs))
        per_epoch.append(dict(docs=len(docs), **shares))
    return dict(workload=workload, seed=seed, epochs=per_epoch), g


# ---- ground truth in the shape the engine's tables are checked in --------
# Timestamps compare as UTC epoch microseconds, dates as epoch days, money as
# Decimal; the harness writes its snapshots in the same encoding.

def _micros(s):
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    d = t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def _days(s):
    return (dt.date.fromisoformat(s[:10]) - DAY0).days


def _money(x):
    return None if x is None else Decimal(repr(float(x))).quantize(Decimal("0.01"))


def expected_fact(g):
    rows = {}
    for bid, d in g.fact.items():
        rows[bid] = (
            bid, int(d["customer_id"]), d["listing_id"], d["status"],
            _days(d["booking_created_at"]), _days(d["checkin_date"]), _days(d["checkout_date"]),
            d["nights"], d["lead_time_days"], d["guests_adults"], d["guests_children"],
            d["guests_infants"], _money(d["price_nightly"]), _money(d["cleaning_fee"]),
            _money(d["total_amount"]), d["currency"], d["country_code"], d["city"], d["channel"],
            d["device_type"], None if d["cancellation_ts"] is None else _micros(d["cancellation_ts"]),
            d["cancellation_reason"], _micros(d["updated_at"]),
        )
    return rows


def expected_dim(g):
    out = {}
    for cid, r in g.dim.items():
        out[cid] = (cid, r[1], r[2], r[3], r[4], r[5].strip('"'), r[6], r[7], r[8], r[9],
                    _days(r[10]), _micros(r[11].replace(" ", "T")), int(r[12]),
                    Decimal(r[13]), r[14], r[15], r[16])
    return out


def expected_agg(g):
    """The 17-column country aggregate over fact join dim (inner, on customer)."""
    groups = {}
    for d in g.fact.values():
        cid = int(d["customer_id"])
        if cid not in g.dim:
            continue
        groups.setdefault(g.dim[cid][8], []).append(d)
    out = {}
    for country, ds in groups.items():
        amt = [_money(d["total_amount"]) or Decimal("0.00") for d in ds]
        conf = [a for a, d in zip(amt, ds) if d["status"] == "Confirmed"]
        canc = [a for a, d in zip(amt, ds) if d["status"] == "Cancelled"]
        days = [_days(d["booking_created_at"]) for d in ds]
        n = len(ds)
        out[country] = (
            country, n, len(conf), len(canc), sum(amt), sum(conf, Decimal("0.00")),
            sum(canc, Decimal("0.00")), len(canc) / n, max(days) * 86_400_000_000,
            min(days) * 86_400_000_000, sum(float(a) for a in amt) / n,
            sum(float(a) for a in conf) / len(conf) if conf else None,
            sum(float(a) for a in canc) / len(canc) if canc else None,
            min(amt), max(amt), len({int(d["customer_id"]) for d in ds}),
            sum(float(d["nights"] or 0) for d in ds) / n,
        )
    return out
