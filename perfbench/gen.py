"""Seeded input generator and reference model for the benchmark.

Everything the engine sees is produced here from ``--seed``: the same seed
gives byte-identical files (``inputs_hash`` pins that). The generator also
keeps the answers the run is checked against — the per-night action counts
of the nightly sync, the state each night should leave behind, and the ids
the corpus admission must reject — computed by a Python model of the
engine's documented semantics, never by the engine itself.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- sizes

# nightly_sync: the state holds STATE_FOLIOS rows over the STATE_DAYS days
# up to night 0's "today", ROWS_PER_DAY a day, so a 10-day lookback window
# (11 days with today) sees about 11 * ROWS_PER_DAY of them.
STATE_FOLIOS = 120_000
STATE_DAYS = 1_000
ROWS_PER_DAY = STATE_FOLIOS // STATE_DAYS
LOOKBACK = 10
MAX_NIGHTS = 20  # upper bound on nights one run can execute
T0 = dt.date(2024, 3, 1)  # "today" of night 0
POISON_ROWS = 2  # rows per night that prepareSource must reject

# Nightly traffic, derived from the production workbook snapshot the
# repository documents (BASELINE.md "Reference-observable facts";
# FIXTURES.md sections 1-2): 129 transfer rows and 40 card rows over about
# 18 days, 113 of the 129 transfers reconciled, 47 audit-log rows, amounts
# of about 550-2,300 MXN, and the transfer sheet's bank counts.
#
# Partition shares are the snapshot's row counts. It holds no cash and no
# "other" rows; those two partitions get one row in 171 each, so their
# code paths run, not because the data shows them.
PARTITION_WEIGHTS = {"TRANSFERENCIA": 129, "TARJETA": 40, "EFECTIVO": 1,
                     "OTROS": 1}
# Rows that carry human work (protected columns set): the reconciled share
# of the snapshot's transfers, applied to every partition.
HUMAN_WORK_SHARE = 113 / 129
# One day's rows are new each night: 169 rows arrived over about 18 days,
# so the state grows by a day's rows a night, as it does here.
NEW_PER_NIGHT = ROWS_PER_DAY
# Audited events per night as a share of the window: 47 audit rows over
# 18 nights, against a window of 169 * 11 / 18 rows. The audit log records
# updates, payment-method moves (clean or conflicting), deletions and
# duplicates; the snapshot's per-kind split is not recorded in the
# repository, so the four kinds share the rate equally.
AUDIT_SHARE = 47 / (169 * (LOOKBACK + 1))
P_UPDATE = P_MOVE = P_DELETE = P_DUPLICATE = AUDIT_SHARE / 4
# Amounts 0.004 off the feed's, inside the +-0.01 tolerance: not in the
# snapshot; 1 % so the tolerance path runs every night.
TOLERANCE_SHARE = 0.01
AMOUNT_CENTS = (55_000, 230_000)
BANK_WEIGHTS = {"BANCOMER": 61, "SANTANDER": 11, "BANAMEX": 10,
                "BANORTE": 9, "HSBC": 6, "SPEI": 5, "SCOTIABANK": 2,
                "NU-MORADO": 2, "BANBAJIO": 2, "BANCO AZTECA": 2,
                "SPIN-AZUL": 1, "INBURSA": 1}

# recon_report: a TPC-H-shaped orders/customer pair (the query maps derive
# the sales fact from `orders`), sized like scale factor 0.01.
N_ORDERS = 15_000
N_CUSTOMERS = 1_500

# corpus_admit
N_DOCS = 1_000  # originals in the crawl stream
DUP_SHARE = 0.10  # planted near-duplicates, as a share of the stream
DOC_BATCH = 50  # docs per admission batch
VOCAB = 3_000
N_BASE_VECS = 1_000  # vectors in the index built at set-up
VEC_BATCH = 50  # vectors appended per step
PROBE_QUERIES = 10
DIM = 64
N_CLUSTERS = 24

PARTITIONS = ["TRANSFERENCIA", "TARJETA", "EFECTIVO", "OTROS"]
RAW_METHODS = {
    "TRANSFERENCIA": ["Transferencia SPEI", "transferencia", "TRANSFERENCIA BBVA"],
    "TARJETA": ["tarjeta de credito", "Tarjeta débito", "TARJETA"],
    "EFECTIVO": ["efectivo", "EFECTIVO", "Efectivo en sucursal"],
    "OTROS": ["cheque", "", "vale de despensa"],
}
SERVICIOS = ["tapete chico", "Sala 3 piezas", "Aveo", "sillon 3 plazas",
             "colchon matrimonial", "alfombra grande"]
BANCOS = list(BANK_WEIGHTS)

# action labels, as graft.model.Actions spells them
NUEVO = "NUEVO"
ACTUALIZACION = "ACTUALIZACIÓN"
SIN_CAMBIOS = "SIN_CAMBIOS"
CAMBIO_METODO = "CAMBIO MÉTODO PAGO"
CONFLICTO = "CONFLICTO → REVISIÓN"
ELIMINACION = "ELIMINACIÓN DETECTADA"
FUERA_VENTANA = "FUERA_VENTANA"

STATE_SCHEMA = pa.schema([
    ("partition", pa.string()), ("folio", pa.string()),
    ("fecha", pa.date32()), ("cliente", pa.string()),
    ("servicio", pa.string()), ("banco", pa.string()),
    ("monto", pa.float64()), ("conciliado", pa.bool_()),
    ("concepto_banco", pa.string()), ("observaciones", pa.string()),
    ("recibo", pa.bool_()), ("afiliacion", pa.string()),
    ("lote", pa.string()), ("verificado", pa.bool_()),
])
RAW_SCHEMA = pa.schema([
    ("ord", pa.int64()), ("folio", pa.string()), ("fecha_raw", pa.string()),
    ("cliente", pa.string()), ("servicio", pa.string()),
    ("banco", pa.string()), ("monto_raw", pa.string()),
    ("metodo_raw", pa.string()),
])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def files_hash(root):
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ================================================================ nightly

def _manual_work(row):
    """Mirror of SyncEngine.manualWork: does the row carry human work?"""
    part = row[0]
    nonempty = lambda v: v is not None and v.strip() != ""
    if part == "TRANSFERENCIA":
        return row[7] is True or nonempty(row[8]) or nonempty(row[9])
    if part == "TARJETA":
        return (row[10] is True or nonempty(row[11]) or nonempty(row[12])
                or nonempty(row[9]))
    return row[13] is True or nonempty(row[9])


def _money_raw(u, cents):
    pesos, c = divmod(cents, 100)
    num = f"{pesos:,}.{c:02d}"
    k = int(u * 4)
    if k == 0:
        return f"${num}"
    if k == 1:
        return f'"${num}"'
    if k == 2:
        return f"{pesos}.{c:02d}"
    return f" $ {num} "


def _cliente_raw(u, cliente):
    k = int(u * 3)
    if k == 0:
        return f'"{cliente}"'
    if k == 1:
        return f"  {cliente} "
    return cliente


def _dmy(d):
    return f"{d.day}/{d.month}/{d.year}"


def _state_row_hash_line(row):
    part, folio, fecha, cliente, servicio, banco, monto = row[:7]
    vals = [part, folio, fecha.isoformat() if fecha else None, cliente,
            servicio, banco, repr(float(monto))] + [
        None if v is None else str(v) for v in row[7:]]
    return "\x01".join("\0" if v is None else str(v) for v in vals)


def _row_hash(row):
    return int.from_bytes(hashlib.blake2b(
        _state_row_hash_line(row).encode(), digest_size=8).digest(), "big")


def fingerprint(rows):
    """Order-independent fingerprint of a multiset of state rows: the sum
    of per-row hashes mod 2^64, so a night's changes move it in O(changes).
    """
    return sum(map(_row_hash, rows)) % (1 << 64)


def _weights(d):
    w = np.array(list(d.values()), dtype=float)
    return w / w.sum()


def gen_nightly(seed, out):
    rng = np.random.default_rng([seed, 1])
    n = STATE_FOLIOS
    okeys = rng.permutation(n // 4 * 7)[: n // 4] + 1
    start = T0 - dt.timedelta(days=STATE_DAYS - 1)
    days = [start + dt.timedelta(days=d) for d in range(STATE_DAYS)]
    bank_p = _weights(BANK_WEIGHTS)
    part = np.array(PARTITIONS)[rng.choice(4, n,
                                           p=_weights(PARTITION_WEIGHTS))]
    human = rng.random(n) < HUMAN_WORK_SHARE
    u = rng.random((n, 2))
    tr, tj = part == "TRANSFERENCIA", part == "TARJETA"
    ef = ~(tr | tj)

    def opt(mask, value):
        return [value if m else None for m in mask.tolist()]

    cents = rng.integers(*AMOUNT_CENTS, n)
    off = rng.random(n) < TOLERANCE_SHARE  # within-tolerance (+0.004)
    cols = {
        "partition": part.tolist(),
        "folio": [f"{k}-{c}" for k in okeys.tolist() for c in range(1, 5)],
        "fecha": [days[d] for d in (np.arange(n) // ROWS_PER_DAY).tolist()],
        "cliente": [f"Cliente {c}"
                    for c in rng.integers(1, 5000, n).tolist()],
        "servicio": np.array(SERVICIOS)[
            rng.integers(0, len(SERVICIOS), n)].tolist(),
        "banco": np.array(BANCOS)[rng.choice(len(BANCOS), n,
                                             p=bank_p)].tolist(),
        "monto": (cents / 100 + np.where(off, 0.004, 0.0)).tolist(),
        "conciliado": opt(tr & human, True),
        "concepto_banco": opt(tr & human & (u[:, 0] < 0.5), "SPEI RECIBIDO"),
        "observaciones": opt(human & (u[:, 1] < 0.1), "revisado"),
        "recibo": opt(tj & human, True),
        "afiliacion": opt(tj & human & (u[:, 0] < 0.5), "4771419"),
        "lote": [str(int(x * 200)) if m else None for m, x in
                 zip((tj & human).tolist(), u[:, 0].tolist())],
        "verificado": opt(ef & human, True),
    }
    _write(pa.Table.from_pydict(cols, STATE_SCHEMA),
           os.path.join(out, "init_state.parquet"))
    state = {r[1]: list(r) for r in zip(*cols.values())}

    by_day = {}
    for f, r in state.items():
        by_day.setdefault(r[2], set()).add(f)

    delta = [0]  # this night's fingerprint change

    def put(f, row):
        """Replace folio f's state row (None deletes it)."""
        old = state.pop(f, None)
        if old is not None:
            by_day[old[2]].discard(f)
            delta[0] -= _row_hash(old)
        if row is not None:
            state[f] = row
            by_day.setdefault(row[2], set()).add(f)
            delta[0] += _row_hash(row)

    def pick(names, cum, x):
        return names[min(len(names) - 1,
                         int(np.searchsorted(cum, x, side="right")))]
    bank_cum = np.cumsum(bank_p)
    part_cum = np.cumsum(_weights(PARTITION_WEIGHTS))

    nights = []
    for k in range(MAX_NIGHTS):
        today = T0 + dt.timedelta(days=k)
        ws = today - dt.timedelta(days=LOOKBACK)
        live = sorted(f for d in range(LOOKBACK + 1)
                      for f in by_day.get(ws + dt.timedelta(days=d), ()))
        # one bulk draw per night; u() hands out its uniforms in order
        u = iter(rng.random(12 * len(live) + 12 * NEW_PER_NIGHT + 1000)
                 .tolist()).__next__
        rows = []  # (folio, fecha, cliente, servicio, banco, cents, part)
        dups = []
        for f in live:
            r = state[f]
            x = u()
            c = int(np.floor(r[6] * 100 + 1e-6))  # off-cent -> round down
            src = [f, r[2], r[3], r[4], r[5], c, r[0]]
            if x < P_DELETE:  # not in tonight's feed
                continue
            x -= P_DELETE
            if x < P_UPDATE:  # one field updated
                kind = int(u() * 4)
                if kind == 0:
                    src[5] = c + 500
                elif kind == 1:
                    src[2] = f"Cliente {5000 + int(u() * 4000)}"
                elif kind == 2:
                    src[3] = SERVICIOS[(SERVICIOS.index(r[4]) + 1)
                                       % len(SERVICIOS)]
                else:
                    src[4] = BANCOS[(BANCOS.index(r[5]) + 1) % len(BANCOS)]
            elif x < P_UPDATE + P_MOVE:  # payment method moved
                src[6] = PARTITIONS[(PARTITIONS.index(r[0])
                                     + 1 + int(u() * 3)) % 4]
            rows.append(src)
            if u() < P_DUPLICATE:  # sent twice; the later copy must lose
                d = list(src)
                d[5] = d[5] + 5000
                dups.append(d)
        for i in range(NEW_PER_NIGHT):  # today's new folios
            rows.append([f"N{k}-{i}", today,
                         f"Cliente {1 + int(u() * 4999)}",
                         SERVICIOS[int(u() * len(SERVICIOS))],
                         pick(BANCOS, bank_cum, u()),
                         AMOUNT_CENTS[0] + int(
                             u() * (AMOUNT_CENTS[1] - AMOUNT_CENTS[0])),
                         pick(PARTITIONS, part_cum, u())])
        order = rng.permutation(len(rows))
        feed = [rows[j] for j in order] + dups
        raw = []
        for o, (f, fecha, cli, serv, banco, c, part) in enumerate(feed):
            meths = RAW_METHODS[part]
            raw.append({"ord": o, "folio": f, "fecha_raw": _dmy(fecha),
                        "cliente": _cliente_raw(u(), cli), "servicio": serv,
                        "banco": banco, "monto_raw": _money_raw(u(), c),
                        "metodo_raw": meths[int(u() * len(meths))]})
        for i in range(POISON_ROWS):  # date and amount both unreadable
            raw.append({"ord": len(raw), "folio": f"P{k}-{i}",
                        "fecha_raw": "sin fecha", "cliente": "Cliente 0",
                        "servicio": SERVICIOS[0], "banco": BANCOS[0],
                        "monto_raw": "N/A", "metodo_raw": "cheque"})
        _write(pa.Table.from_pylist(raw, RAW_SCHEMA),
               os.path.join(out, f"night_{k:03d}.parquet"))

        # ---- reference model of SyncEngine.run over this night
        counts = {}
        bump = lambda a: counts.__setitem__(a, counts.get(a, 0) + 1)
        seen = set()
        n_before = len(state)
        matched = 0
        for f, fecha, cli, serv, banco, c, part in feed:  # ord order
            if f in seen:
                continue  # first wins; the rest go to the audit log
            seen.add(f)
            e = state.get(f)
            monto = c / 100
            if e is None:
                bump(NUEVO)
                put(f, [part, f, fecha, cli, serv, banco, monto,
                        None, None, None, None, None, None, None])
                continue
            matched += 1
            if part != e[0]:
                if _manual_work(e):
                    bump(CONFLICTO)
                    put(f, None)
                else:
                    bump(CAMBIO_METODO)
                    put(f, [part, f, fecha, cli, serv, banco, monto,
                            None, None, None, None, None, None, None])
                continue
            changed = (fecha != e[2] or cli != e[3] or serv != e[4]
                       or abs(monto - e[6]) >= 0.01
                       or (e[0] == "TRANSFERENCIA" and banco != e[5]))
            if changed:
                bump(ACTUALIZACION)
                put(f, [e[0], f, fecha, cli, serv, banco, monto] + e[7:])
            else:
                bump(SIN_CAMBIOS)
        elim = sum(1 for f in live if f not in seen)
        if elim:
            counts[ELIMINACION] = elim
        fuera = n_before - matched - elim
        if fuera:
            counts[FUERA_VENTANA] = fuera
        nights.append({"today": today.isoformat(), "actions": counts,
                       "rejected": POISON_ROWS,
                       "fingerprint_delta": delta[0] % (1 << 64)})
        delta[0] = 0
    return {"nights": nights}


# ================================================================ recon

def gen_recon(seed, out):
    rng = np.random.default_rng([seed, 2])
    n = N_ORDERS
    keys = np.sort(rng.choice(n * 4, n, replace=False)).astype(np.int64)
    lo = np.datetime64("1995-01-01")
    span = (np.datetime64("2001-08-01") - lo).astype(int)
    orders = pd.DataFrame({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, N_CUSTOMERS + 1, n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": (lo + rng.integers(0, span + 1, n).astype(
            "timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    ck = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ck)), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], len(ck)),
    })
    sf = os.path.join(out, "sf")
    os.makedirs(sf, exist_ok=True)
    _write(pa.Table.from_pandas(orders, preserve_index=False),
           os.path.join(sf, "orders.parquet"))
    _write(pa.Table.from_pandas(customer, preserve_index=False),
           os.path.join(sf, "customer.parquet"))
    return {}


# ================================================================ corpus

def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters, rng.integers(3, 10))))
    return sorted(words)


def _variant(rng, text):
    """A near-duplicate that normalises to the same word sequence: the
    shingler lower-cases and splits on whitespace, so case and spacing
    edits keep the Jaccard similarity at 1."""
    out = []
    for w in text.split(" "):
        k = rng.integers(3)
        out.append(w.upper() if k == 0 else w.capitalize() if k == 1 else w)
    return ("  " if rng.random() < 0.5 else "") + "   ".join(out) + " \n"


def gen_corpus(seed, out):
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    w = 1.0 / (np.arange(VOCAB) + 10.0)
    w /= w.sum()
    originals = [" ".join(vocab[j] for j in rng.choice(
        VOCAB, rng.integers(20, 60), p=w)) for _ in range(N_DOCS)]
    # arrival stream: originals in order, each planted variant after the
    # original it copies (same or a later batch); ids rise with arrival
    n_dups = int(N_DOCS * DUP_SHARE / (1 - DUP_SHARE))
    src_of = rng.integers(0, N_DOCS, n_dups)
    lag = rng.integers(1, 3 * DOC_BATCH, n_dups)
    events = [(i * 10, "o", i) for i in range(N_DOCS)] + [
        (int(src_of[j]) * 10 + int(lag[j]) * 10 + 5, "v", j)
        for j in range(n_dups)]
    events.sort()
    docs = []
    for pos, (_, kind, j) in enumerate(events):
        text = originals[j] if kind == "o" else _variant(
            rng, originals[src_of[j]])
        docs.append({"doc_id": pos, "text": text,
                     "lang": "es" if rng.random() < 0.7 else "en",
                     "source": f"src{rng.integers(8)}",
                     "n_chars": len(text), "planted": kind == "v"})
    n_batches = (len(docs) + DOC_BATCH - 1) // DOC_BATCH
    batches = []
    for b in range(n_batches):
        part = docs[b * DOC_BATCH:(b + 1) * DOC_BATCH]
        tbl = pa.Table.from_pylist([{k: d[k] for k in
                                     ("doc_id", "text", "lang", "source",
                                      "n_chars")} for d in part])
        _write(tbl, os.path.join(out, f"docs_{b:03d}.parquet"))
        batches.append({"admit": [d["doc_id"] for d in part
                                  if not d["planted"]],
                        "reject": [d["doc_id"] for d in part
                                   if d["planted"]]})

    # embeddings: clustered unit-ish vectors; appends and probe queries are
    # seed-perturbed copies of vectors already in the corpus
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    lab = rng.integers(0, N_CLUSTERS, N_BASE_VECS)
    base = (centers[lab] + 0.45 * rng.normal(size=(N_BASE_VECS, DIM))
            ).astype(np.float32)

    def vec_table(ids, vecs):
        return pa.Table.from_arrays(
            [pa.array(ids, pa.int64()),
             pa.array(list(vecs), pa.list_(pa.float32()))],
            names=["vec_id", "embedding"])

    _write(vec_table(np.arange(N_BASE_VECS), base),
           os.path.join(out, "vec_base.parquet"))
    corpus = base
    for k in range(n_batches):
        src = corpus[rng.integers(0, len(corpus), VEC_BATCH)]
        add = (src + 0.3 * rng.normal(size=src.shape)).astype(np.float32)
        ids = 1_000_000 + k * VEC_BATCH + np.arange(VEC_BATCH)
        _write(vec_table(ids, add), os.path.join(out, f"vec_{k:03d}.parquet"))
        corpus = np.vstack([corpus, add])
        qsrc = corpus[rng.integers(0, len(corpus), PROBE_QUERIES)]
        q = (qsrc + 0.1 * rng.normal(size=qsrc.shape)).astype(np.float32)
        qids = 2_000_000 + k * PROBE_QUERIES + np.arange(PROBE_QUERIES)
        _write(vec_table(qids, q), os.path.join(out, f"query_{k:03d}.parquet"))
    return {"batches": batches, "n_steps": n_batches}


GENERATORS = {"nightly_sync": gen_nightly, "recon_report": gen_recon,
              "corpus_admit": gen_corpus}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return (expected, hash)."""
    os.makedirs(out, exist_ok=True)
    expected = GENERATORS[workload](seed, out)
    return expected, files_hash(out)
