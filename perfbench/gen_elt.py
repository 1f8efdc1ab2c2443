"""Seeded source generator for the elt_load workload.

Writes one source file per table, in parquet, csv, json and avro, plus the
two pipeline configs (`pgcopy.yaml`, `parquet.yaml`) the engine loads them
with. The engine sees only these files and configs.

Every table needs the full alignment surface of the loader: the target
schema reorders columns, matches names case-insensitively, casts
string->int, string->decimal, string->timestamp and double->decimal, fills
the missing `note` column with NULL and drops the extra source columns.

Table shapes (formats, row counts, column order) are fixed; the seed only
changes the values. So two seeds cost the same to load, and the same seed
gives byte-identical files.
"""
import datetime
import decimal
import json
import os
import random
import struct

FORMATS = ("parquet", "csv", "json", "avro")
SMALL_ROWS = 2_000
LARGE_ROWS = 50_000
N_TABLES = 8
LARGE = (0, 5)          # table indexes with LARGE_ROWS: one parquet, one csv
PARQUET_SINK = (2, 7)   # the share landed in the parquet sink: json, avro
LABELS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
TS0 = 1704067200        # 2024-01-01 00:00:00 UTC

TARGET_DDL = ("id BIGINT, label STRING, qty INT, price DECIMAL(12,2), "
              "amount DECIMAL(10,2), event_ts TIMESTAMP, note STRING")
TARGET_COLS = ("id", "label", "qty", "price", "amount", "event_ts", "note")

# source column name, avro type; names differ from the target in case
SOURCE_COLS = (
    ("extra_a", "long"),
    ("Event_TS", "string"),
    ("PRICE", ["null", "double"]),
    ("label", ["null", "string"]),
    ("ID", "long"),
    ("amount", ["null", "string"]),
    ("Qty", "string"),
    ("extra_b", "string"),
)


def tables():
    """(name, format, rows, sink) of every table, in a fixed order."""
    out = []
    for i in range(N_TABLES):
        fmt = FORMATS[i % len(FORMATS)]
        rows = LARGE_ROWS if i in LARGE else SMALL_ROWS
        sink = "parquet" if i in PARQUET_SINK else "pgcopy"
        out.append((f"t{i:02d}_{fmt}", fmt, rows, sink))
    return out


def source_rows(seed, index, rows):
    """Source records of one table as dicts keyed by source column name."""
    r = random.Random(seed * 1_000_003 + index)
    base = index * 10_000_000
    recs = []
    for k in range(rows):
        price = r.randrange(0, 10_000_000)     # cents
        amount = r.randrange(0, 100_000)       # cents
        ts = TS0 + r.randrange(0, 366 * 86400)
        recs.append({
            "extra_a": r.randrange(1 << 40),
            "Event_TS": datetime.datetime.fromtimestamp(
                ts, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
            "PRICE": None if r.random() < 0.05 else price / 100,
            "label": None if r.random() < 0.1 else r.choice(LABELS),
            "ID": base + k,
            "amount": None if r.random() < 0.05 else f"{amount / 100:.2f}",
            "Qty": str(r.randrange(1, 500)),
            "extra_b": f"x{r.randrange(1 << 20):05x}",
        })
    return recs


def expected_rows(recs):
    """The aligned target rows as COPY-text fields (None for NULL)."""
    def dec(v):
        if v is None:
            return None
        return str(decimal.Decimal(repr(float(v))).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))
    return [(str(s["ID"]), s["label"], s["Qty"], dec(s["PRICE"]),
             dec(s["amount"]), s["Event_TS"], None) for s in recs]


def null_counts(recs):
    """Target column -> NULL count, for columns with any NULL."""
    counts = {"label": 0, "price": 0, "amount": 0, "note": len(recs)}
    for s in recs:
        counts["label"] += s["label"] is None
        counts["price"] += s["PRICE"] is None
        counts["amount"] += s["amount"] is None
    return {k: v for k, v in counts.items() if v}


# ---------------------------------------------------------------- writers

def _csv_field(v):
    return "" if v is None else str(v)


def write_csv(path, recs):
    names = [c for c, _ in SOURCE_COLS]
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(",".join(names) + "\n")
        for s in recs:
            f.write(",".join(_csv_field(s[c]) for c in names) + "\n")


def write_json(path, recs):
    names = [c for c, _ in SOURCE_COLS]
    with open(path, "w", encoding="utf-8", newline="") as f:
        for s in recs:
            f.write(json.dumps({c: s[c] for c in names},
                               separators=(",", ":")) + "\n")


def write_parquet(path, recs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    types = {"long": pa.int64(), "string": pa.string(), "double": pa.float64()}
    fields, arrays = [], []
    for c, t in SOURCE_COLS:
        pt = types[t[1] if isinstance(t, list) else t]
        fields.append(pa.field(c, pt, nullable=isinstance(t, list)))
        arrays.append(pa.array([s[c] for s in recs], type=pt))
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                   path, compression="snappy")


def _zigzag(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_value(t, v):
    if isinstance(t, list):                 # ["null", T]
        return _zigzag(0) if v is None else _zigzag(1) + _avro_value(t[1], v)
    if t == "long":
        return _zigzag(v)
    if t == "double":
        return struct.pack("<d", v)
    b = v.encode("utf-8")
    return _zigzag(len(b)) + b


def write_avro(path, recs, sync):
    """Avro object container file, null codec, one block per 4096 records."""
    schema = {"type": "record", "name": "source", "fields": [
        {"name": c, "type": t} for c, t in SOURCE_COLS]}
    meta = {"avro.schema": json.dumps(schema, separators=(",", ":")),
            "avro.codec": "null"}
    with open(path, "wb") as f:
        f.write(b"Obj\x01")
        f.write(_zigzag(len(meta)))
        for k, v in meta.items():
            f.write(_avro_value("string", k) + _avro_value("string", v))
        f.write(_zigzag(0))
        f.write(sync)
        for lo in range(0, len(recs), 4096):
            block = recs[lo:lo + 4096]
            body = b"".join(_avro_value(t, s[c]) for s in block
                            for c, t in SOURCE_COLS)
            f.write(_zigzag(len(block)) + _zigzag(len(body)) + body + sync)


def config_yaml(specs, src_dir, sink):
    lines = ["jobs:"]
    for name, fmt, _, s in specs:
        if s != sink:
            continue
        lines += [f"  - source: {src_dir}/{name}.{fmt}",
                  f"    target: {name}",
                  f"    format: {fmt}",
                  f'    target_schema: "{TARGET_DDL}"']
    lines += ["sink:", f"  format: {sink}", "  path: out", "  mode: overwrite"]
    return "\n".join(lines) + "\n"


def version():
    """Digest of this generator, so cached inputs follow its changes."""
    import hashlib
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def generate(out_dir, seed):
    """Write every source and both configs under out_dir; return the dir."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    src_dir = os.path.abspath(out_dir)
    specs = tables()
    for i, (name, fmt, rows, _) in enumerate(specs):
        recs = source_rows(seed, i, rows)
        path = os.path.join(out_dir, f"{name}.{fmt}")
        if fmt == "csv":
            write_csv(path, recs)
        elif fmt == "json":
            write_json(path, recs)
        elif fmt == "parquet":
            write_parquet(path, recs)
        else:
            write_avro(path, recs, random.Random(seed).randbytes(16))
    for sink in ("pgcopy", "parquet"):
        with open(os.path.join(out_dir, f"{sink}.yaml"), "w") as f:
            f.write(config_yaml(specs, src_dir, sink))
    open(done, "w").close()
    return out_dir
