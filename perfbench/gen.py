"""Seeded input generators for the benchmark workloads.

Every generator takes ``seed`` (and a size) as arguments and is pure: the
same seed gives the same rows, and the parquet files written from them are
byte-identical. Ground truth the checks need (planted duplicates, the
statement stream) is returned next to the data.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def digest(paths: list[str]) -> str:
    """SHA-1 over the bytes of ``paths`` (sorted), for determinism checks."""
    h = hashlib.sha1()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(root: str) -> list[str]:
    out = []
    for d, _dirs, names in os.walk(root):
        out.extend(os.path.join(d, n) for n in names)
    return out


# ---------------------------------------------------------------------------
# star schema + events + documents (analyst_queries, lake_dml)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "batch", "part", "line", "order", "sort",
    "fast", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "row", "join", "shuffle", "cache", "plan", "a",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]

def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    a = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - a).astype(int)
    return a + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables with the column set and value domains the
    registry's plans and DuckDB oracles read. ``scale`` 0.1 gives the
    row counts of the repository's sf0.1 fixture: 15,000 customers,
    150,000 orders and 600,000 line items, ``l_orderkey`` drawn uniformly
    as there (Poisson(4) lines per order)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(30, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(40, int(200_000 * scale))
    n_ord = max(300, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(30, int(15_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{c} {n}"
            for c, n in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    ts = pa.timestamp("us")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            _days(rng, "1995-01-01", "2001-08-01", n_ord).astype("datetime64[us]"), ts
        ),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 104999.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(
            _days(rng, "1995-01-02", "2001-11-04", n_li).astype("datetime64[us]"), ts
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us")
            + ev_us.astype("timedelta64[us]"),
            ts,
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_docs = max(200, int(50_000 * scale))
    texts = [
        " ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 101))))
        for _ in range(n_docs)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    return t


def write_star(seed: int, scale: float, out_dir: str) -> list[str]:
    paths = []
    for name, tbl in star_tables(seed, scale).items():
        p = os.path.join(out_dir, f"{name}.parquet")
        _write(tbl, p)
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# lake_dml: the period-partitioned orders table and its statement stream
# ---------------------------------------------------------------------------

PERIODS = [f"2024{m:02d}" for m in range(1, 13)]
LAKE_TABLE = "lake.orders"


def lake_orders(seed: int, n_rows: int) -> pa.Table:
    """Orders over the twelve periods of 2024, keyed 0..n_rows-1."""
    rng = np.random.default_rng([seed, 2])
    days = _days(rng, "2024-01-01", "2024-12-31", n_rows)
    period = [str(d)[:7].replace("-", "") for d in days]
    return pa.table({
        "o_orderkey": pa.array(range(n_rows), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(10, n_rows // 10), n_rows), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_rows).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_rows),
        "o_orderpriority": rng.choice(PRIORITIES, n_rows).tolist(),
        "id_periodo": period,
    })


def lake_stream(seed: int, orders: pa.Table, n_writes: int, merge_rows: int):
    """The fixed statement stream: ``n_writes`` writes, each followed by
    one read, plus OPTIMIZE after every 3rd and VACUUM after every 6th
    write.

    Returns ``(ops, sources)``: ``ops`` is a list of ``(kind, label,
    sql)`` where kind is ``write``/``read``/``maintain``. A time-travel
    read has label ``("tt", j)`` and a ``{v}`` placeholder for the version
    the j-th write committed (known only at run time); j is never older
    than the last VACUUM, which drops older snapshots. ``sources`` maps a
    temp-view name to the rows a MERGE or REPLACE WHERE reads.

    MERGE is period-scoped, as the reference's reprocessing merges are:
    every source row carries the merged period, and the source updates
    keys the initial table holds in that period and inserts new keys.
    The stream keeps to the MERGE shapes the program handles: a MERGE on
    a non-partition key misses same-key rows in partitions the source
    does not touch, and a composite-key MERGE reorders the table's
    columns. ``tests/test_perfbench.py`` reproduces both as strict
    xfails."""
    rng = np.random.default_rng([seed, 3])
    n_rows = orders.num_rows
    initial = np.array(orders.column("id_periodo").to_pylist())
    ops: list[tuple] = []
    sources: dict[str, pa.Table] = {}
    next_key = n_rows
    tt_floor = 0
    for i in range(n_writes):
        # the stream's shape (statement kinds, periods) is the same for
        # every seed; the seed draws keys and values
        p = PERIODS[(5 * i) % len(PERIODS)]
        kind = ("update", "delete", "merge", "replace")[i % 4]
        if kind == "update":
            prio = PRIORITIES[i % 5]
            bump = float(rng.integers(1, 100)) + 0.25
            sql = (
                f"UPDATE {LAKE_TABLE} SET o_totalprice = o_totalprice + {bump} "
                f"WHERE id_periodo = '{p}' AND o_orderpriority = '{prio}'"
            )
        elif kind == "delete":
            m = int(rng.integers(0, 7))
            sql = (
                f"DELETE FROM {LAKE_TABLE} WHERE id_periodo = '{p}' "
                f"AND o_custkey % 7 = {m}"
            )
        else:
            view = f"bench_src_{i}"
            # REPLACE WHERE lands only new keys, so no key is ever stored
            # twice and a later MERGE matches at most one row per key
            n_new = merge_rows // 2 if kind == "merge" else merge_rows
            in_p = np.flatnonzero(initial == p)
            old = rng.choice(in_p, min(len(in_p), merge_rows - n_new), replace=False)
            keys = np.concatenate([old, np.arange(next_key, next_key + n_new)])
            keys = np.unique(keys)
            next_key += n_new
            n = len(keys)
            sources[view] = pa.table({
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(rng.integers(0, max(10, n_rows // 10), n), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n),
                "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
                "id_periodo": [p] * n,
            })
            if kind == "merge":
                sql = (
                    f"MERGE INTO {LAKE_TABLE} AS t USING (SELECT * FROM {view}) AS s "
                    "ON t.o_orderkey = s.o_orderkey "
                    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
                )
            else:
                sql = (
                    f"INSERT INTO {LAKE_TABLE} REPLACE WHERE id_periodo = '{p}' "
                    f"SELECT * FROM {view}"
                )
        ops.append(("write", kind, sql))
        r = i % 3
        if r == 0:
            k = int(rng.integers(0, next_key))
            ops.append((
                "read", "lookup",
                f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderpriority, id_periodo FROM {LAKE_TABLE} WHERE o_orderkey = {k}",
            ))
        elif r == 1:
            q = PERIODS[(5 * i + 6) % len(PERIODS)]
            ops.append((
                "read", "period_agg",
                f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
                f"CAST(SUM(o_totalprice) AS DOUBLE) AS s FROM {LAKE_TABLE} "
                f"WHERE id_periodo = '{q}'",
            ))
        else:
            j = int(rng.integers(tt_floor, i + 1))
            ops.append((
                "read", ("tt", j),
                f"SELECT CAST(COUNT(*) AS BIGINT) AS n, "
                f"CAST(SUM(o_totalprice) AS DOUBLE) AS s FROM {LAKE_TABLE} "
                "VERSION AS OF {v}",
            ))
        if (i + 1) % 3 == 0:
            ops.append(("maintain", "optimize", f"OPTIMIZE {LAKE_TABLE}"))
        if (i + 1) % 6 == 0:
            ops.append(("maintain", "vacuum", f"VACUUM {LAKE_TABLE} RETAIN 0 HOURS"))
            tt_floor = i + 1
    return ops, sources


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted duplicates and contamination
# ---------------------------------------------------------------------------

# Heaps-law vocabulary as in the repository's sf1 document generator: the
# base vocabulary plus suffixed variants, so 3-gram shingles stay sparse.
CORPUS_VOCAB = DOC_VOCAB + [f"{w}x" for w in DOC_VOCAB] + [
    "read", "write", "push", "prune", "skew", "salt", "probe", "build",
]
# benchmark passages use words the corpus never draws, so only planted
# contaminated documents share a shingle with them
BENCH_VOCAB = [f"qz{i}" for i in range(200)]


def corpus(seed: int, n_docs: int):
    """Documents with planted exact duplicates, one-word-edit near
    duplicates and benchmark-contaminated documents.

    Returns ``(documents, benchmark, truth)`` where ``truth`` holds
    ``exact`` (dup_id, base_id) pairs, ``near`` (dup_id, base_id) pairs,
    ``contaminated`` ids and ``unique`` ids (originals nothing was
    derived from)."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(CORPUS_VOCAB)
    n_exact = max(2, n_docs // 100)
    n_near = max(4, n_docs // 50)
    n_cont = max(2, n_docs // 200)
    n_orig = n_docs - n_exact - n_near - n_cont
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(12, 101)))])
        for _ in range(n_orig)
    ]
    bench = [
        " ".join(rng.choice(BENCH_VOCAB, 40)) for _ in range(max(4, n_cont))
    ]
    bases = rng.permutation(n_orig)[: n_exact + n_near + n_cont]
    truth = {"exact": [], "near": [], "contaminated": []}
    for j, b in enumerate(bases):
        b = int(b)
        new_id = len(texts)
        if j < n_exact:
            texts.append(texts[b])
            truth["exact"].append((new_id, b))
        elif j < n_exact + n_near:
            words = texts[b].split()
            pos = int(rng.integers(0, len(words)))
            choices = vocab[vocab != words[pos]]
            words[pos] = str(choices[int(rng.integers(0, len(choices)))])
            texts.append(" ".join(words))
            truth["near"].append((new_id, b))
        else:
            passage = bench[int(rng.integers(0, len(bench)))].split()
            s = int(rng.integers(0, len(passage) - 8))
            texts.append(texts[b] + " " + " ".join(passage[s : s + 8]))
            truth["contaminated"].append(new_id)
    used = {int(b) for b in bases}
    truth["unique"] = [i for i in range(n_orig) if i not in used]
    n = len(texts)
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    benchmark = pa.table({
        "bench_id": pa.array(range(len(bench)), pa.int64()),
        "text": bench,
    })
    return docs, benchmark, truth


# ---------------------------------------------------------------------------
# medallion_refresh: the stage universe scaled from the reference templates
# ---------------------------------------------------------------------------

AS_OF = dt.date(2025, 5, 15)
WINDOW_START = dt.date(2025, 3, 1)  # first day of the 3-period window


def _ddl_cols(ddl: str) -> list[tuple[str, str]]:
    cols = []
    for part in ddl.split(", "):
        name, typ = part.strip().split(" ", 1)
        cols.append((name, typ))
    return cols


def _arrow_type(typ: str) -> pa.DataType:
    typ = typ.strip().lower()
    if typ.startswith("decimal"):
        p, s = typ[typ.index("(") + 1 : -1].split(",")
        return pa.decimal128(int(p), int(s))
    return {
        "string": pa.string(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }[typ]


def stage_tables(seed: int, n_clients: int, n_articles: int, n_docs: int):
    """The stage universe of ``tools/full_stage.STAGE_TABLES`` scaled up:
    ``n_clients`` clients, ``n_articles`` articles, ``n_docs`` sales
    documents (each with 1-7 detail lines and a matching order), inventory
    movements and visits spread over the 3-period window. Every key a job
    joins on is drawn from the scaled masters, so joins still resolve.

    Returns ``{table: (arrow_table, instance)}``."""
    rng = np.random.default_rng([seed, 5])
    from full_stage import STAGE_TABLES as tpl
    span = (AS_OF - WINDOW_START).days
    out: dict[str, tuple[pa.Table, str]] = {}

    def rows_for(table: str) -> list[dict]:
        ddl, rows, _inst = tpl[table]
        names = [c for c, _ in _ddl_cols(ddl)]
        return [dict(zip(names, r)) for r in rows]

    def day(k: int) -> dt.date:
        return WINDOW_START + dt.timedelta(days=int(k))

    def money(lo: int, hi: int) -> Decimal:
        return Decimal(int(rng.integers(lo * 100, hi * 100))) / 100

    scaled: dict[str, list[dict]] = {}
    base = rows_for("m_cliente")[0]
    scaled["m_cliente"] = [
        {**base, "cod_cliente": f"C{i}", "nomb_cliente": f"BODEGA {i}",
         "nro_documento_identidad": str(40_000_000 + i)}
        for i in range(1, n_clients + 1)
    ]
    base = rows_for("m_tipo_cliente")[0]
    scaled["m_tipo_cliente"] = [
        {**base, "cod_cliente": f"C{i}", "tipo_cliente": "AB"[i % 2]}
        for i in range(1, n_clients + 1)
    ]
    base = rows_for("m_articulo")[0]
    scaled["m_articulo"] = [
        {**base, "id_articulo": f"10|A{j}", "cod_articulo": f"A{j}",
         "cod_articulo_corp": j, "desc_articulo": f"ARTICULO {j}"}
        for j in range(1, n_articles + 1)
    ]
    hv = rows_for("t_documento_venta")[0]
    hd = rows_for("t_documento_venta_detalle")[0]
    ph = rows_for("t_documento_pedido")[0]
    pd_ = rows_for("t_documento_pedido_detalle")[0]
    ah = rows_for("t_documento_pedido_ades")[0]
    ad = rows_for("t_documento_pedido_ades_detalle")[0]
    for t in ("t_documento_venta", "t_documento_venta_detalle", "t_documento_pedido",
              "t_documento_pedido_detalle", "t_documento_pedido_ades",
              "t_documento_pedido_ades_detalle"):
        scaled[t] = []
    for k in range(1, n_docs + 1):
        cli = f"C{int(rng.integers(1, n_clients + 1))}"
        d = day(rng.integers(0, span + 1))
        nro = f"{k:07d}"
        ped = f"N{k}"
        estado = "002" if rng.random() < 0.05 else "001"
        scaled["t_documento_venta"].append({
            **hv, "nro_documento_venta": nro, "nro_documento_pedido": ped,
            "cod_cliente": cli, "imp_venta": money(10, 5000),
            "cod_estado_comprobante": estado, "fecha_liquidacion": d,
            "fecha_emision": d, "fecha_pedido": d - dt.timedelta(days=1),
            "nro_comprobante": f"CP-{k:07d}",
        })
        scaled["t_documento_pedido"].append({
            **ph, "nro_documento_pedido": ped, "cod_cliente": cli,
            "fecha_pedido": d - dt.timedelta(days=1), "fecha_entrega": d,
        })
        arts = rng.choice(np.arange(1, n_articles + 1),
                          size=min(n_articles, int(rng.integers(1, 8))), replace=False)
        for a in arts:
            art = f"A{int(a)}"
            scaled["t_documento_venta_detalle"].append({
                **hd, "nro_documento_venta": nro, "nro_documento_pedido": ped,
                "cod_articulo": art,
                "cant_paquete": Decimal(int(rng.integers(1, 20))),
                "cant_unidad": Decimal(int(rng.integers(0, 12))),
                "imp_valorizado": money(5, 900), "imp_cobrar": money(5, 990),
                "imp_descuento": money(0, 50), "imp_descuento_sinimp": money(0, 40),
                "precio_paquete": money(5, 60),
            })
            scaled["t_documento_pedido_detalle"].append({
                **pd_, "nro_documento_pedido": ped, "cod_cliente": cli,
                "cod_articulo": art, "fecha_pedido": d - dt.timedelta(days=1),
                "cant_paquete": Decimal(int(rng.integers(1, 20))),
            })
        if k % 4 == 0:
            com = f"M{k}"
            scaled["t_documento_pedido_ades"].append({
                **ah, "nro_comprobante": com, "cod_cliente": cli,
                "fecha_pedido": d - dt.timedelta(days=1), "fecha_entrega": d,
            })
            scaled["t_documento_pedido_ades_detalle"].append({
                **ad, "nro_comprobante": com, "cod_cliente": cli,
                "cod_articulo": f"A{int(arts[0])}",
                "fecha_pedido": d - dt.timedelta(days=1),
            })
    mh = rows_for("t_movimiento_inventario")[0]
    md = rows_for("t_movimiento_inventario_detalle")[0]
    scaled["t_movimiento_inventario"] = []
    scaled["t_movimiento_inventario_detalle"] = []
    for m in range(1, max(2, n_docs // 4) + 1):
        d = day(rng.integers(0, span + 1))
        scaled["t_movimiento_inventario"].append({
            **mh, "id_movimiento_almacen": f"MV{m}", "id_movimiento_ingreso": f"MI{m}",
            "nro_documento_movimiento": f"M{m:06d}", "fecha_emision": d,
            "fecha_almacen": d, "fecha_liquidacion": d,
        })
        for a in rng.choice(np.arange(1, n_articles + 1),
                            size=min(n_articles, int(rng.integers(1, 5))), replace=False):
            scaled["t_movimiento_inventario_detalle"].append({
                **md, "id_movimiento_almacen": f"MV{m}", "id_articulo": f"10|A{int(a)}",
                "fecha_almacen": d, "cant_cajas": Decimal(int(rng.integers(1, 30))),
                "costo_total": money(10, 900),
                "nro_documento_movimiento": f"M{m:06d}",
            })
    hv = rows_for("t_historico_visita")[0]
    scaled["t_historico_visita"] = [
        {**hv, "cod_cliente": f"C{int(rng.integers(1, n_clients + 1))}",
         "fecha_visita": day(rng.integers(0, span + 1))}
        for _ in range(n_docs)
    ]
    for table, (ddl, rows, inst) in tpl.items():
        cols = _ddl_cols(ddl)
        recs = scaled.get(table)
        if recs is None:
            recs = [dict(zip([c for c, _ in cols], r)) for r in rows]
        arrays = {
            c: pa.array([r[c] for r in recs], _arrow_type(t)) for c, t in cols
        }
        out[table] = (pa.table(arrays), inst)
    return out
