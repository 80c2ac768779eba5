"""Seeded, reference-shaped sales CSV generator.

Writes files in the layout of ``Sales_January_2019.csv`` (header row,
``Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase
Address``, quoted addresses) with the reference's defect classes mixed
in at its rates:

* repeated header rows mid-file (-> invalid, cast failure);
* blank rows ``,,,,,`` (-> invalid, null required field);
* exact duplicate rows (collapsed by the cleanse's full-row DISTINCT);
* rows with an empty Order ID (kept, assigned ``max(order_id)+n``);
* unparseable dates, quantities and prices (-> invalid, cast failure);
* the same city name in two states (Portland OR / Portland ME);
* products whose price changes mid-period (SCD2 product versions).

Every expected warehouse figure is derived here, at generation time, by
replaying the cleanse rules on the rows just written (:class:`Expected`);
nothing is hard-coded. The program under test only ever sees the files.
The output is a pure function of the seed and the shape arguments.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from dataclasses import dataclass, field

HEADER = (
    "Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address"
)

#: (product, price in cents) — the reference catalogue.
CATALOGUE = [
    ("USB-C Charging Cable", 1195),
    ("Lightning Charging Cable", 1495),
    ("Wired Headphones", 1199),
    ("AA Batteries (4-pack)", 384),
    ("AAA Batteries (4-pack)", 299),
    ("Apple Airpods Headphones", 15000),
    ("Bose SoundSport Headphones", 9999),
    ("27in FHD Monitor", 14999),
    ("iPhone", 70000),
    ("27in 4K Gaming Monitor", 38999),
    ("34in Ultrawide Monitor", 37999),
    ("Google Phone", 60000),
    ("Flatscreen TV", 30000),
    ("Macbook Pro Laptop", 170000),
    ("ThinkPad Laptop", 99999),
    ("20in Monitor", 10999),
    ("Vareebadd Phone", 40000),
    ("LG Washing Machine", 60000),
    ("LG Dryer", 60000),
]
#: cheap accessories dominate order lines, as in the reference
_WEIGHTS = [22, 22, 19, 21, 21, 8, 7, 6, 7, 5, 5, 6, 5, 5, 4, 4, 2, 1, 1]
_NAMES = [n for n, _ in CATALOGUE]

#: (city, state, postal): ten (state, postal) branches, Portland twice.
CITIES = [
    ("San Francisco", "CA", "94016"),
    ("Los Angeles", "CA", "90001"),
    ("New York City", "NY", "10001"),
    ("Boston", "MA", "02215"),
    ("Atlanta", "GA", "30301"),
    ("Dallas", "TX", "75001"),
    ("Seattle", "WA", "98101"),
    ("Portland", "OR", "97035"),
    ("Portland", "ME", "04101"),
    ("Austin", "TX", "73301"),
]
_CITY_WEIGHTS = [24, 16, 13, 11, 8, 8, 8, 5, 1, 6]

_STREETS = (
    "Walnut Maple Adams Meadow Chestnut Spruce Hill Madison Lake Park "
    "Main Elm Church Jackson Washington Lincoln Forest Cedar Pine Wilson "
    "Jefferson Center River Johnson Highland Ridge South North West East "
    "Cherry Willow Lakeview Sunset Hickory Dogwood Sycamore "
    "Railroad Mill 1st 2nd 3rd 4th 5th 6th 7th 8th 9th 10th 11th 12th"
).split()
_SUFFIXES = ["St", "Ave", "Dr"]

START = dt.date(2019, 1, 1)

_STAMP = re.compile(r"(\d\d)/(\d\d)/(\d\d) (\d\d):(\d\d)")


@dataclass
class Expected:
    """What a correct warehouse built from the generated files holds."""

    landing: int = 0
    invalid: dict[str, int] = field(default_factory=dict)
    cleansed: int = 0
    #: valid rows before the full-row DISTINCT (the streaming cleanse,
    #: which keeps duplicates, lands exactly this many)
    valid_rows: int = 0
    qty: int = 0
    revenue_cents: int = 0
    days: int = 0
    products: int = 0
    product_versions: int = 0
    locations: int = 0
    state_postals: int = 0

    @property
    def invalid_total(self) -> int:
        return sum(self.invalid.values())

    @property
    def dense_rows(self) -> int:
        return self.days * self.product_versions * self.locations


class SalesGenerator:
    """Draws order lines day by day from one seeded stream.

    ``price_changes`` products change price once, on a day drawn from
    ``1 .. span_days-1``; from that day on every sale of them is at the
    new price, so each version's first-seen date is unambiguous and the
    as-of price equals the price sold.
    """

    def __init__(self, seed: int, span_days: int,
                 price_changes: int = 3) -> None:
        self.rng = random.Random(seed)
        self.next_order = 141234
        self.prices = dict(CATALOGUE)
        self.changes: dict[str, tuple[int, int]] = {}
        for name in self.rng.sample(_NAMES, price_changes):
            old = self.prices[name]
            day = self.rng.randrange(1, span_days)
            self.changes[name] = (day, old + max(1, old // 10))
        self._batches: list[_Batch] = []

    def _price(self, product: str, day: int) -> int:
        change = self.changes.get(product)
        if change and day >= change[0]:
            return change[1]
        return self.prices[product]

    def _address(self) -> tuple[str, str, str, str]:
        city, state, postal = self.rng.choices(CITIES, _CITY_WEIGHTS)[0]
        number = self.rng.randint(1, 999)
        name = self.rng.choice(_STREETS)
        street = f"{number} {name} {self.rng.choice(_SUFFIXES)}"
        return street, city, state, postal

    def day_rows(self, day: int, orders: int) -> list[list[str]]:
        """Order lines of one day, defects mixed in, as CSV fields."""
        rng = self.rng
        date = START + dt.timedelta(days=day)
        rows: list[list[str]] = []
        for _ in range(orders):
            oid = self.next_order
            self.next_order += 1
            addr = self._address()
            n_lines = 1 if rng.random() < 0.93 else rng.randint(2, 3)
            hour, minute = rng.randrange(24), rng.randrange(60)
            stamp = f"{date:%m/%d/%y} {hour:02d}:{minute:02d}"
            if n_lines == 1:
                products = rng.choices(_NAMES, _WEIGHTS)
            else:
                products = rng.sample(_NAMES, n_lines)
            for product in products:
                qty = 1 if rng.random() < 0.9 else rng.randint(2, 4)
                price = self._price(product, day)
                rows.append([
                    str(oid), product, str(qty), _money(price), stamp,
                    f"{addr[0]}, {addr[1]}, {addr[2]} {addr[3]}",
                ])
        out: list[list[str]] = []
        for row in rows:
            r = rng.random()
            if r < 0.0005:
                row[0] = ""  # missing order id: kept, id assigned
            elif r < 0.0007:
                row[4] = f"{date:%m/%d/%y}"  # no time: bad date
            elif r < 0.0009:
                row[2] = "two"  # bad quantity
            elif r < 0.0011:
                row[3] = row[3].replace(".", ",") + "x"  # bad price
            out.append(row)
            r = rng.random()
            if r < 0.0052:
                out.append(list(row))  # exact duplicate
            elif r < 0.0068:
                out.append(HEADER.split(","))  # repeated header
            elif r < 0.0095:
                out.append([""] * 6)  # blank row
        return out

    def write(self, path: str, days: list[tuple[int, int]]) -> Expected:
        """Write the ``(day, orders)`` pairs to one CSV and return the
        figures expected from cleansing that file on its own."""
        rows: list[list[str]] = []
        for day, orders in days:
            rows.extend(self.day_rows(day, orders))
        self._ensure_every_defect(rows, days[0][0])
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write("\n".join(
                [HEADER] + [",".join(map(_csv_field, r)) for r in rows]
            ) + "\n")
        batch = _replay(rows, first_placeholder=-len(self._batches) * 10**9)
        self._batches.append(batch)
        return _expected([batch])

    def expected_total(self, first: int = 0, count: int | None = None
                       ) -> Expected:
        """Figures over ``count`` files written from the ``first``-th on
        (default: all), each file cleansed on its own -- the full-row
        DISTINCT runs per batch."""
        end = None if count is None else first + count
        return _expected(self._batches[first:end])

    def _ensure_every_defect(self, rows: list[list[str]], day: int) -> None:
        """Guarantee at least one row of each defect class per file, so a
        small file still exercises every routing path."""
        date = START + dt.timedelta(days=day)
        base = next(r for r in rows if r[0] and r[2].isdigit()
                    and "." in r[3] and ":" in r[4])
        oid, product, qty, price, stamp, addr = base
        extra = [
            HEADER.split(","),
            [""] * 6,
            list(base),
            # qty 97 keeps the id-less row distinct from its source row
            ["", product, "97", price, stamp, addr],
            [oid, product, qty, price, f"{date:%m/%d/%y}", addr],
            [oid, product, "two", price, stamp, addr],
            [oid, product, qty, "1,00x", stamp, addr],
        ]
        for i, row in enumerate(extra):
            rows.insert(1 + (i * 7919) % len(rows), row)


@dataclass
class _Batch:
    landing: int
    invalid: dict[str, int]
    valid_rows: int
    #: distinct cleansed tuples (id-less rows carry unique placeholders,
    #: as the cleanse assigns each its own ``max(order_id)+n``)
    cleansed: set


def _replay(rows: list[list[str]], first_placeholder: int) -> _Batch:
    """The cleanse rules (``operators.cleansing``) applied row by row."""
    invalid: dict[str, int] = {}
    cleansed: set = set()
    valid = 0
    placeholder = first_placeholder
    for oid, product, qty, price, stamp, addr in rows:
        if not all((product, qty, price, stamp, addr)):
            reason = "null_required_field"
        elif not (_is_int(qty) and _is_money(price) and _is_stamp(stamp)
                  and (oid == "" or _is_int(oid))):
            reason = "cast_failure"
        else:
            reason = None
        if reason:
            invalid[reason] = invalid.get(reason, 0) + 1
            continue
        valid += 1
        if oid == "":
            placeholder -= 1
            key = placeholder
        else:
            key = int(oid)
        street, city, rest = (p.strip() for p in addr.split(","))
        state, postal = rest.split(" ")
        mm, dd, yy = stamp[:8].split("/")
        date = dt.date(2000 + int(yy), int(mm), int(dd))
        euros, cents = price.split(".")
        cleansed.add((key, product.strip(), int(qty),
                      int(euros) * 100 + int(cents), date,
                      street, city, state, postal))
    return _Batch(len(rows), invalid, valid, cleansed)


def _expected(batches: list[_Batch]) -> Expected:
    rows = [r for b in batches for r in b.cleansed]
    dates = [r[4] for r in rows]
    invalid: dict[str, int] = {}
    for b in batches:
        for k, v in b.invalid.items():
            invalid[k] = invalid.get(k, 0) + v
    return Expected(
        landing=sum(b.landing for b in batches),
        invalid=invalid,
        cleansed=len(rows),
        valid_rows=sum(b.valid_rows for b in batches),
        qty=sum(r[2] for r in rows),
        revenue_cents=sum(r[2] * r[3] for r in rows),
        days=(max(dates) - min(dates)).days + 1,
        products=len({r[1] for r in rows}),
        product_versions=len({(r[1], r[3]) for r in rows}),
        locations=len({r[5:] for r in rows}),
        state_postals=len({r[7:] for r in rows}),
    )


def _is_int(s: str) -> bool:
    return s.isdigit()


def _is_money(s: str) -> bool:
    whole, _, frac = s.partition(".")
    return whole.isdigit() and len(frac) == 2 and frac.isdigit()


def _is_stamp(s: str) -> bool:
    """``MM/dd/yy HH:mm``, the cleanse's ``ORDER_DATE_FORMAT``."""
    m = _STAMP.fullmatch(s)
    if m is None:
        return False
    month, day, _, hour, minute = map(int, m.groups())
    return 1 <= month <= 12 and 1 <= day <= 31 and hour < 24 and minute < 60


def _money(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def _csv_field(v: str) -> str:
    return f'"{v}"' if "," in v else v
