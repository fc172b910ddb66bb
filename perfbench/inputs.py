"""Seeded inputs and the expected output of every workload.

Payroll inputs start from a seeded ``orders``/``nation`` pair.  The
extract rows are derived from it with the formula the repository's
``pipe_pua``/``pipe_cpa`` oracles replay, so the DuckDB oracles in
``__spark_entry__.oracle_sql()`` run unchanged over the same pair and give
the expected rows.  Kernel workloads read the fixed test data.  Inputs and
expectations are cached under a hash of the oracle text and of this
generator's source, so a cache never outlives the code that made it.

Expectations are a row count plus an order-insensitive fingerprint of the
canonical rows, computed here with no code from the package under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

from xlsx import write_workbook

PUA_ORDERS = 10_000  # one extract row per order
PUA_WORKBOOKS = 3
CERT_WORKBOOKS = 1  # per pay cycle (BW, MN)
CPA_FY_END_YEAR = 1995  # the fiscal year the CPA oracle filters on
_FIRST_DAY = dt.date(1992, 1, 1)
_DAYS = 2405  # TPC-H order dates: 1992-01-01 .. 1998-08-02
_MASK = (1 << 64) - 1


# --------------------------------------------------------------------------
# canonical rows and fingerprints
# --------------------------------------------------------------------------

def canon(v) -> str:
    """Text form shared by both sides: the package's Excel sink renders
    timestamps as ``YYYY-MM-DD HH:MM:SS`` and the kernels round floats to
    six places, so those are the forms compared."""
    if v is None:
        return "\\N"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, (dt.date, str, int)):
        return str(v)
    try:
        return repr(round(float(v), 6))  # Decimal
    except (TypeError, ValueError):
        return str(v)


def fingerprint(rows) -> dict:
    """Row count and the sum (mod 2**64) of one 64-bit digest per row."""
    n, acc = 0, 0
    for r in rows:
        text = "\x1f".join(canon(v) for v in r).encode()
        acc = (acc + int.from_bytes(hashlib.blake2b(text, digest_size=8).digest(), "big")) & _MASK
        n += 1
    return {"rows": n, "fp": f"{acc:016x}"}


def _oracles() -> dict[str, str]:
    import __spark_entry__

    return __spark_entry__.oracle_sql()


def _run_oracle(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"columns": cols, **fingerprint(cur.fetchall())}


# --------------------------------------------------------------------------
# payroll_nightly
# --------------------------------------------------------------------------

def _orders(seed: int, n: int) -> tuple[list[tuple], list[tuple]]:
    rng = random.Random(seed)
    customers = max(1, n // 10)
    orders = [
        (ok, rng.randrange(1, customers + 1), _FIRST_DAY + dt.timedelta(days=rng.randrange(_DAYS)))
        for ok in range(1, n + 1)
    ]
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    nation = [(nk, "".join(rng.choice(letters) for _ in range(7))) for nk in range(25)]
    return orders, nation


def _eclass(ck: int) -> str:
    return ("EA", "EB", "ZZ")[ck % 3]


PUA_HEADER = [
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "TS COA", "TS ORG", "DEPT Code",
    "Department Name", "ECLS", "ECLS DESC", "TE M", "Time Entry", "POSN", "SUFF",
    "College Code", "College Name", "Earn Code", "DESCRIPTION", "ADj Reason Code",
    "ADJ Reason DESC", "Calc Date",
]


def _pua_row(ok: int, ck: int, od: dt.date) -> tuple:
    return (
        str(ck),
        "BW" if ok % 2 == 0 else "MN",
        str(od.year),
        str(ok % 4),
        "0",
        None if ck % 13 == 0 else str(ck % 7),
        str(ck % 25),
        f"{ck % 10}.0",
        f"Dept-{ck % 10}",
        _eclass(ck),
        f"Desc-{_eclass(ck)}",
        None if ok % 5 == 0 else ("W" if ok % 5 <= 2 else "B"),
        "Manual" if ok % 7 == 0 else "",
        f"U{ck % 50}",
        f"{ok % 3}.0",
        f"C{ck % 4}",
        f"College {ck % 4}",
        "RGS",
        "Regular",
        "RET" if ok % 11 == 0 else ("nan" if ok % 11 == 1 else ""),
        "Retro" if ok % 11 == 0 else "x",
        "garbage" if ok % 17 == 0 else od.isoformat(),
    )


CERT_HEADER = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_CREATE_DT", "JOB",
    "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE", "ACTION",
]


def _cert_row(ok: int, ck: int, od: dt.date) -> tuple:
    return (
        str(ck),
        str(od.year),
        "BW" if ok % 2 == 0 else "MN",
        str(ok % 4),
        "0",
        "not a date" if ok % 19 == 0 else od.isoformat(),
        f"U{ck % 50}-{ok % 3}",
        None if ck % 13 == 0 else str(ck % 7),
        str(ck % 25 + 602000),
        _eclass(ck),
        "NOHYPHEN" if ck % 5 == 0 else f"C{ck % 4}-College {ck % 4}",
        "3 - Apply" if ok % 3 == 0 else "1 - Review",
    )


def _dims(orders, nation) -> dict[str, tuple[list[str], list[tuple]]]:
    """Dimension workbooks, named as the nightly job selects them."""
    return {
        "pua_ts_org": (
            ["TS-Org Code", "TS-Org Title"],
            [(f"{nk % 7}-{nk}", name) for nk, name in nation],
        ),
        "pua_ts_dept": (
            ["TS-Org Dept Code", "TS-Org Dept Title"],
            [(f"{nk % 7}-{nk % 10}", f"DeptTitle-{nk}") for nk, _ in nation],
        ),
        "pua_overtime": (
            ["Job Eclass", "Overtime FLSA"],
            [("EA", "Non-Exempt"), ("EB", "Exempt")],
        ),
        "pua_te_m": (
            ["UIN Job", "TE M", "Time Entry Method"],
            [("a", "W", "Web Time"), ("b", "W", "Web Time"), ("c", "W", "Alpha Method"),
             ("d", "B", "Banner"), ("e", None, "X"), ("f", "Q", None)],
        ),
        "cpa_ts_org": (
            ["TS-Org Code", "TS-Org Title"],
            [(f"{nk % 7}-{nk + 602000}", name) for nk, name in nation],
        ),
        "cpa_ts_dept": (
            ["TS-Org Dept Code", "TS-Org Dept Title"],
            [(f"{nk}-602", f"Dept {name}") for nk, name in nation if nk < 5],
        ),
        "cpa_overtime": (
            ["Job Eclass", "Pay ID", "Overtime FLSA", "Job Detail E-Class Long Desc"],
            [("EA", "BW", "Non-Exempt", "Academic"), ("EA", "MN", "NE-Monthly", "Academic-M"),
             ("EB", "BW", "Exempt", "Monthly-B"), ("EB", "MN", "Exempt", "Monthly")],
        ),
        "cpa_te_m": (
            ["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"],
            [
                (f"{ck}-U{ck % 50}-{ok % 3}", "W" if ck % 2 == 0 else "B",
                 "Alpha" if ck % 11 == 0 else ("Web Time" if ck % 2 == 0 else "Banner"), "T")
                for ok, ck, _ in orders if ok % 6 == 0
            ],
        ),
    }


def _split(rows: list, parts: int) -> list[list]:
    step = -(-len(rows) // parts)
    return [rows[i:i + step] for i in range(0, len(rows), step)]


def _write_payroll_folder(root: str, orders, nation) -> None:
    """Extract workbooks in order-key order, so physical read order is the
    keep-first order the oracles use."""
    layout = {
        "pua": (PUA_HEADER, [_pua_row(*o) for o in orders], PUA_WORKBOOKS),
        "cert_bw": (CERT_HEADER, [_cert_row(*o) for o in orders if o[0] % 2 == 0], CERT_WORKBOOKS),
        "cert_mn": (CERT_HEADER, [_cert_row(*o) for o in orders if o[0] % 2 == 1], CERT_WORKBOOKS),
    }
    for folder, (header, rows, parts) in layout.items():
        os.makedirs(os.path.join(root, folder))
        for i, chunk in enumerate(_split(rows, parts), start=1):
            write_workbook(os.path.join(root, folder, f"{folder}_extract_{i:02d}.xlsx"), header, chunk)
    os.makedirs(os.path.join(root, "dims"))
    for name, (header, rows) in _dims(orders, nation).items():
        write_workbook(os.path.join(root, "dims", f"{name}.xlsx"), header, rows)


def _payroll_expected(orders, nation, oracles: dict[str, str]) -> dict:
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("orders", pa.table({
            "o_orderkey": [o[0] for o in orders],
            "o_custkey": [o[1] for o in orders],
            "o_orderdate": [o[2] for o in orders],
        }))
        con.register("nation", pa.table({
            "n_nationkey": [n[0] for n in nation],
            "n_name": [n[1] for n in nation],
        }))
        return {"pua": _run_oracle(con, oracles["pipe_pua"]),
                "cpa": _run_oracle(con, oracles["pipe_cpa"])}
    finally:
        con.close()


def _cache_key(*texts: str) -> str:
    """Hash of what a cached input or expectation derives from: the given
    texts (oracle SQL, data paths) and the source of this generator and of
    its xlsx writer, so editing either invalidates the cache."""
    h = hashlib.sha1("\n".join(texts).encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("inputs.py", "xlsx.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare_payroll(work: str, seed: int) -> tuple[str, dict]:
    """(folder of workbooks, expected outputs) for one seed, cached."""
    oracles = _oracles()
    key = _cache_key(oracles["pipe_pua"], oracles["pipe_cpa"])
    root = os.path.join(work, "inputs", f"payroll-{seed}-{key}")
    done = os.path.join(root, "expected.json")
    if not os.path.exists(done):
        orders, nation = _orders(seed, PUA_ORDERS)
        tmp = f"{root}.tmp{os.getpid()}"
        data = os.path.join(tmp, "data")
        os.makedirs(tmp)
        _write_payroll_folder(data, orders, nation)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(_payroll_expected(orders, nation, oracles), f)
        os.rename(tmp, root)
    with open(done) as f:
        return os.path.join(root, "data"), json.load(f)


# --------------------------------------------------------------------------
# kernel workloads over the fixed test data
# --------------------------------------------------------------------------

TESTDATA_TABLES = "nation orders lineitem supplier documents embeddings".split()


def prepare_kernels(work: str, sf_dir: str, names: list[str]) -> dict:
    """Expected output per query, cached."""
    import duckdb

    oracles = _oracles()
    os.makedirs(os.path.join(work, "expected"), exist_ok=True)
    out, con = {}, None
    try:
        for name in names:
            key = _cache_key(sf_dir, oracles[name])
            path = os.path.join(work, "expected", f"{name}-{key}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    for t in TESTDATA_TABLES:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
                        )
                tmp = f"{path}.tmp{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump(_run_oracle(con, oracles[name]), f)
                os.rename(tmp, path)
            with open(path) as f:
                out[name] = json.load(f)
    finally:
        if con is not None:
            con.close()
    return out
