"""Seeded generator for an Olist-shaped bronze CSV lake plus a CDC batch.

The tables, columns and header names are those of the public Olist
e-commerce dataset (``schemas.OLIST_SCHEMAS``), at the public ratios
per order (1.13 items, 1.05 payments, 1.0 reviews, 0.33 products,
0.03 sellers, 10 geolocation rows). The generator plants the cases the
ingest and the gold star join must get right:

- review titles and messages quoted with commas, doubled quotes and
  embedded newlines (the multiLine CSV path);
- all five payment types, and split payments (several rows per order);
- orders without items and orders without payments;
- NULL timestamps (undelivered orders) and NULL product categories;
- a change batch of about 1 % of the orders in which orders are created,
  modified (price, payment or status) and deleted.

``write_lake`` lays the CSVs out as ``<base>/bronze/olist/<table>/`` (the
layout ``catalog.zone_path`` resolves) and the changed state of the three
fact tables under ``<base_v2>/bronze/olist/<table>/``. The same seed
writes byte-identical files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

from bootcamp_stackacademy_datalake_minio_airflow_spark.schemas import (
    OLIST_SCHEMAS,
    PAYMENT_TYPES,
)

FACT_TABLES = ("orders", "order_items", "order_payments")
STATES = ["SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "GO", "PE"]
CITIES = [
    "sao paulo", "rio de janeiro", "belo horizonte", "curitiba", "porto alegre",
    "campinas", "salvador", "brasilia", "goiania", "recife", "são josé dos campos",
    "niterói", "guarulhos", "santo andré", "florianopolis",
]
CATEGORIES = [
    "cama_mesa_banho", "beleza_saude", "esporte_lazer", "moveis_decoracao",
    "informatica_acessorios", "utilidades_domesticas", "relogios_presentes",
    "telefonia", "automotivo", "brinquedos", "cool_stuff", "ferramentas_jardim",
]
WORDS = [
    "produto", "chegou", "antes", "do", "prazo", "recomendo", "otimo", "ruim",
    "entrega", "atrasou", "qualidade", "boa", "nao", "recebi", "veio", "errado",
]
DELIVERED_SHARE = 0.9
STATUSES = ["shipped", "canceled", "invoiced", "processing", "unavailable"]
T0 = dt.datetime(2016, 9, 1)
SPAN_S = 2 * 365 * 86400


def _ts(t: dt.datetime | None) -> str:
    return "" if t is None else t.strftime("%Y-%m-%d %H:%M:%S")


class _Gen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def hex_id(self) -> str:
        return f"{self.r.getrandbits(128):032x}"

    def money(self, lo: float, hi: float) -> float:
        return round(self.r.uniform(lo, hi), 2)

    def text(self, lo: int, hi: int) -> str:
        return " ".join(self.r.choice(WORDS) for _ in range(self.r.randint(lo, hi)))

    def review_message(self) -> str:
        kind = self.r.random()
        if kind < 0.25:
            return ""
        body = self.text(3, 14)
        if kind < 0.45:
            return f"{body}, {self.text(1, 6)}"
        if kind < 0.6:
            return f'{body} "{self.text(1, 3)}" {self.text(1, 4)}'
        if kind < 0.75:
            return f"{body},\n{self.text(1, 8)}"
        if kind < 0.85:
            return f'"{self.text(1, 3)}",\n{body}'
        return body


def _items_for(g: _Gen, order_id: str, purchase: dt.datetime, products, sellers):
    rows = []
    n = 1 if g.r.random() < 0.9 else g.r.randint(2, 4)
    for k in range(1, n + 1):
        rows.append([
            order_id, k, g.r.choice(products), g.r.choice(sellers),
            _ts(purchase + dt.timedelta(days=g.r.randint(2, 9))),
            g.money(5.0, 900.0), g.money(0.0, 60.0),
        ])
    return rows


def _payments_for(g: _Gen, order_id: str, total: float):
    """One payment row per order, or a split: a voucher plus another type."""
    if g.r.random() < 0.05:
        part = round(min(total, g.r.uniform(5.0, 50.0)), 2)
        rest = g.r.choice(["credit_card", "boleto", "debit_card"])
        return [
            [order_id, 1, "voucher", 1, part],
            [order_id, 2, rest, g.r.randint(1, 10), round(total - part, 2)],
        ]
    ptype = g.r.choices(PAYMENT_TYPES, weights=[19, 74, 2, 0.2, 4.8])[0]
    return [[order_id, 1, ptype, g.r.randint(1, 10), round(total, 2)]]


def _order_row(g: _Gen, order_id: str, customer_id: str, purchase: dt.datetime,
               status: str | None = None):
    status = status or ("delivered" if g.r.random() < DELIVERED_SHARE else g.r.choice(STATUSES))
    approved = None if status in ("canceled", "unavailable") else purchase + dt.timedelta(hours=g.r.randint(1, 48))
    carrier = purchase + dt.timedelta(days=g.r.randint(1, 5)) if status in ("delivered", "shipped") else None
    delivered = purchase + dt.timedelta(days=g.r.randint(5, 30)) if status == "delivered" else None
    return [
        order_id, customer_id, status, _ts(purchase), _ts(approved), _ts(carrier),
        _ts(delivered), _ts(purchase.replace(hour=0, minute=0, second=0) + dt.timedelta(days=30)),
    ]


def generate(n_orders: int, seed: int) -> tuple[dict[str, list[list]], dict[str, list[list]], list[str], dict]:
    """Return (bronze tables, changed fact tables, changed order ids, plan).

    ``plan`` records what was planted, for tests: the created, modified
    and deleted order ids and the orders without items or payments.
    """
    g = _Gen(seed)
    n_prod = max(20, n_orders // 3)
    n_sell = max(5, n_orders // 32)
    customers, orders, items, payments, reviews = [], [], [], [], []
    sellers = [[g.hex_id(), f"{g.r.randint(1000, 99999):05d}", g.r.choice(CITIES), g.r.choice(STATES)]
               for _ in range(n_sell)]
    seller_ids = [s[0] for s in sellers]
    products = []
    for _ in range(n_prod):
        cat = "" if g.r.random() < 0.02 else g.r.choice(CATEGORIES)
        products.append([
            g.hex_id(), cat, g.r.randint(10, 70), g.r.randint(50, 3000), g.r.randint(1, 6),
            float(g.r.randint(50, 30000)), float(g.r.randint(10, 100)),
            float(g.r.randint(2, 80)), float(g.r.randint(8, 100)),
        ])
    product_ids = [p[0] for p in products]
    no_items, no_payments = [], []
    for _ in range(n_orders):
        oid, cid = g.hex_id(), g.hex_id()
        purchase = T0 + dt.timedelta(seconds=g.r.randrange(SPAN_S))
        customers.append([cid, g.hex_id(), f"{g.r.randint(1000, 99999):05d}", g.r.choice(CITIES), g.r.choice(STATES)])
        row = _order_row(g, oid, cid, purchase)
        orders.append(row)
        if g.r.random() < 0.008:
            row[2] = "unavailable"
            no_items.append(oid)
            its = []
        else:
            its = _items_for(g, oid, purchase, product_ids, seller_ids)
            items.extend(its)
        total = sum(i[5] + i[6] for i in its) or g.money(10.0, 200.0)
        if g.r.random() < 0.003:
            no_payments.append(oid)
        else:
            payments.extend(_payments_for(g, oid, total))
        if g.r.random() < 0.99:
            created = purchase + dt.timedelta(days=g.r.randint(5, 40))
            title = "" if g.r.random() < 0.85 else g.text(1, 3)
            reviews.append([
                g.hex_id(), oid, g.r.randint(1, 5), title, g.review_message(),
                _ts(created.replace(hour=0, minute=0, second=0)),
                _ts(created + dt.timedelta(hours=g.r.randint(1, 72))),
            ])
    geolocation = [
        [f"{g.r.randint(1000, 99999):05d}", round(g.r.uniform(-33.7, 5.2), 6),
         round(g.r.uniform(-73.9, -34.8), 6), g.r.choice(CITIES), g.r.choice(STATES)]
        for _ in range(10 * n_orders)
    ]
    bronze = {
        "customers": customers, "sellers": sellers, "geolocation": geolocation,
        "orders": orders, "order_items": items, "order_payments": payments,
        "order_reviews": reviews, "products": products,
    }

    # change batch: ~0.3 % deleted, ~0.4 % modified, ~0.3 % created
    n_change = max(3, n_orders // 300)
    with_items = sorted({i[0] for i in items} & {p[0] for p in payments})
    picked = g.r.sample(with_items, 2 * n_change)
    deleted, modified = set(picked[:n_change]), picked[n_change:]
    v2_orders = [o[:] for o in orders if o[0] not in deleted]
    v2_items = [i[:] for i in items if i[0] not in deleted]
    v2_pay = [p[:] for p in payments if p[0] not in deleted]
    by_id = {o[0]: o for o in v2_orders}
    for k, oid in enumerate(modified):
        if k % 3 == 0:
            for i in v2_items:
                if i[0] == oid:
                    i[5] = g.money(5.0, 900.0)
        elif k % 3 == 1:
            for p in v2_pay:
                if p[0] == oid:
                    p[2], p[4] = g.r.choice(PAYMENT_TYPES), g.money(10.0, 900.0)
        else:
            by_id[oid][2] = "canceled"
            v2_items = [i for i in v2_items if not (i[0] == oid and i[1] > 1)]
    created = []
    for _ in range(n_change):
        oid = g.hex_id()
        purchase = T0 + dt.timedelta(seconds=SPAN_S + g.r.randrange(86400 * 7))
        v2_orders.append(_order_row(g, oid, g.r.choice(customers)[0], purchase, "processing"))
        its = _items_for(g, oid, purchase, product_ids, seller_ids)
        v2_items.extend(its)
        v2_pay.extend(_payments_for(g, oid, sum(i[5] + i[6] for i in its)))
        created.append(oid)
    changed = {"orders": v2_orders, "order_items": v2_items, "order_payments": v2_pay}
    plan = {
        "created": created, "modified": list(modified), "deleted": sorted(deleted),
        "no_items": no_items, "no_payments": no_payments,
    }
    return bronze, changed, sorted(set(created) | set(modified) | deleted), plan


def _write_csv(path: str, table: str, rows: list[list]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(OLIST_SCHEMAS[table].fieldNames())
        w.writerows(rows)
    return os.path.getsize(path)


def write_lake(base: str, base_v2: str, n_orders: int, seed: int) -> dict:
    """Write the bronze lake, the changed fact tables and the changed order
    ids (``<base_v2>/changed_orders.csv``); return a manifest with per-table
    row counts, bronze bytes and the changed order ids."""
    bronze, changed, changed_ids, plan = generate(n_orders, seed)
    manifest = {"rows": {}, "rows_v2": {}, "bytes": 0, "changed": changed_ids, "plan": plan}
    for t, rows in bronze.items():
        manifest["bytes"] += _write_csv(os.path.join(base, "bronze", "olist", t, f"{t}.csv"), t, rows)
        manifest["rows"][t] = len(rows)
    for t, rows in changed.items():
        manifest["bytes"] += _write_csv(os.path.join(base_v2, "bronze", "olist", t, f"{t}.csv"), t, rows)
        manifest["rows_v2"][t] = len(rows)
    manifest["changed_csv"] = os.path.join(base_v2, "changed_orders.csv")
    with open(manifest["changed_csv"], "w") as f:
        f.write("order_id\n" + "".join(f"{o}\n" for o in changed_ids))
    return manifest
