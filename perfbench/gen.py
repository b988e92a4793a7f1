"""Seeded input generators. The same seed gives byte-identical files.

Each generator writes its files and returns what the oracle needs that
the files alone do not say directly: row counts and, for the export, the
generated records themselves.
"""

import csv
import json
import os
import random

import duckdb

EXPORT_ROWS = 40_000
ORDERS_ROWS = 30_000
CUSTOMERS_ROWS = 3_000
ITEMS_ROWS = 20_000

CATEGORIES = ["books", "garden", "kitchen", "music", "office", "sports", "toys"]
REGIONS = ["east", "north", "south", "west"]
STATUSES = ["closed", "open", "pending", "void"]
WORDS = ["alder", "birch", "cedar", "delta", "ember", "fjord", "grove", "haven"]


def export_record(rng, i):
    rec = {
        "id": i,
        "ts": f"2021-04-{rng.randint(1, 30):02d}T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z",
        "amount": round(rng.uniform(0.0, 100.0), 2),
        "active": rng.random() < 0.6,
        "user": {
            "name": rng.choice(WORDS) + "_" + str(rng.randint(1, 999)),
            "age": rng.randint(18, 90),
            "geo": {"lat": round(rng.uniform(-90, 90), 5), "lon": round(rng.uniform(-180, 180), 5)},
        },
        "tags": rng.sample(WORDS, rng.randint(0, 3)),
    }
    if rng.random() < 0.95:  # the rest lack the key, so it reads as null
        rec["status"] = rng.choice(STATUSES)
    return rec


def export_jsonl(path, seed):
    """JSONL with nested objects, arrays, booleans and a sometimes-missing key."""
    rng = random.Random(f"export-{seed}")
    records = [export_record(rng, i) for i in range(EXPORT_ROWS)]
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r, separators=(",", ":")) + "\n")
    return {"rows": EXPORT_ROWS, "records": records}


NOTES_CSV = "id,note\n1,alpha\n2,\n3,gamma\n4,\n"


def repl_inputs(dirpath, seed):
    """orders.csv ({0}), customers.json ({1}, a JSON array) and
    items.parquet ({2}), joined on customer_id and sharing categories, plus
    notes.csv ({3}): four fixed rows, two with an empty note, the same for
    every seed."""
    rng = random.Random(f"repl-{seed}")
    orders = os.path.join(dirpath, "orders.csv")
    with open(orders, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["order_id", "customer_id", "category", "qty", "price", "ts"])
        for i in range(ORDERS_ROWS):
            w.writerow([i, rng.randint(1, CUSTOMERS_ROWS), rng.choice(CATEGORIES),
                        rng.randint(1, 20), f"{rng.uniform(1, 500):.2f}",
                        f"2021-04-{rng.randint(1, 30):02d}"])
    customers = os.path.join(dirpath, "customers.json")
    with open(customers, "w") as f:
        json.dump([{"customer_id": c, "name": rng.choice(WORDS) + " " + rng.choice(WORDS),
                    "region": rng.choice(REGIONS), "tier": rng.randint(1, 5)}
                   for c in range(1, CUSTOMERS_ROWS + 1)], f, indent=1)
    items_csv = os.path.join(dirpath, "items.tmp.csv")
    with open(items_csv, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["item_id", "category", "weight", "stock"])
        for i in range(ITEMS_ROWS):
            w.writerow([i, rng.choice(CATEGORIES), f"{rng.uniform(0.1, 50):.3f}", rng.randint(0, 500)])
    items = os.path.join(dirpath, "items.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            "COPY (SELECT CAST(item_id AS INTEGER) AS item_id, category, "
            "CAST(weight AS DOUBLE) AS weight, CAST(stock AS INTEGER) AS stock "
            f"FROM read_csv('{items_csv}', header=true, all_varchar=true)) "
            f"TO '{items}' (FORMAT PARQUET)")
    finally:
        con.close()
    os.remove(items_csv)
    notes = os.path.join(dirpath, "notes.csv")
    with open(notes, "w") as f:
        f.write(NOTES_CSV)
    return {"files": [orders, customers, items, notes]}
