"""Seeded operation generators and the in-memory models they are checked
against, for the two store workloads.

Each generator walks its model while it draws operations, so an operation
only ever targets state the model says exists (an owner create lands on a
path the owner still owns, a refused create names a live key, a delete names
a present key). `replay` then runs the same model over the same operation
list and compares every recorded outcome with the model's prediction.
"""
import hashlib
import json
import random

LEASE_MS = 3_600_000  # long no-rewrite lease: every stored key stays leased


def jdump(doc) -> str:
    return json.dumps(doc, separators=(",", ":"))


def blocks(rng: random.Random, mix: dict, n_ops: int):
    """Kinds in blocks of sum(mix) ops, each block holding exactly `mix`
    and shuffled, so the proportions do not drift with the seed."""
    block = [k for k, c in mix.items() for _ in range(c)]
    out = []
    while len(out) < n_ops:
        b = list(block)
        rng.shuffle(b)
        out.extend(b)
    return out[:n_ops]


# ---------------------------------------------------------------- pot-parity

POT_MIX = {"get": 11, "list": 2, "upsert": 4, "remove": 1, "create": 2}
POT_UNIT = 20
POT_COLS = ("key", "name", "nation", "bal", "seg", "v")


def pot_digest(docs: dict) -> str:
    """MD5 of the sorted tab-joined rows; the driver computes the same."""
    lines = sorted("\t".join(str(x) for x in (k,) + tuple(d))
                   for k, d in docs.items())
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class PotModel:
    """Paths of key -> (name, nation, bal, seg, v), per-path generation, and
    the owner client's cached generation per path (reference client.go:
    writes record it, removes do not)."""

    def __init__(self, initial: dict):
        self.paths = {p: dict(d) for p, d in initial.items()}
        self.gen = {p: 1 for p in initial}
        self.owned = {p: 1 for p in initial}

    def create_refused(self, client: str, path: str, docs) -> bool:
        gen = self.gen.get(path, 0)
        if gen == 0 or (client == "owner" and self.owned.get(path) == gen):
            return False
        return any(d[0] in self.paths.get(path, {}) for d in docs)

    def apply(self, op: dict):
        """Apply one operation; return the outcome the store must report."""
        kind, path = op["kind"], op.get("path")
        if kind == "get":
            return ("ok", pot_digest(self.paths[path]))
        if kind == "list":
            return ("ok", ",".join(sorted(self.paths)))
        if kind == "remove":
            for k in op["keys"]:
                self.paths[path].pop(k, None)
            self.gen[path] += 1
            return ("ok", str(self.gen[path]))
        if kind == "create" and self.create_refused(op["client"], path,
                                                    op["docs"]):
            return ("refused", None)
        for d in op["docs"]:
            self.paths.setdefault(path, {})[d[0]] = tuple(d[1:])
        self.gen[path] = self.gen.get(path, 0) + 1
        if kind == "upsert" or op.get("client") == "owner":
            self.owned[path] = self.gen[path]
        return ("ok", str(self.gen[path]))


def pot_initial(customers: list, n_paths: int, per_path: int) -> dict:
    """customers: (custkey, name, nationkey, acctbal, segment) rows."""
    out = {}
    for p in range(n_paths):
        rows = customers[p * per_path:(p + 1) * per_path]
        out[f"p{p:02d}"] = {
            f"c{r[0]:07d}": (r[1], int(r[2]), int(round(r[3] * 100)), r[4], 0)
            for r in rows}
    return out


def pot_ops(seed: int, initial: dict, n_ops: int) -> list:
    rng = random.Random(seed)
    model = PotModel(initial)
    paths = sorted(initial)
    fresh = iter(range(10 ** 9))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

    def new_doc():
        k = f"n{next(fresh):07d}"
        return [k, f"Customer#{k}", rng.randrange(25),
                rng.randrange(-99999, 999999), rng.choice(segs), 0]

    def rewrite(path):
        k = rng.choice(sorted(model.paths[path]))
        name, nation, bal, seg, v = model.paths[path][k]
        return [k, name, nation, rng.randrange(-99999, 999999), seg, v + 1]

    ops = []
    creates = 0
    for kind in blocks(rng, POT_MIX, n_ops):
        path = rng.choice(paths)
        if kind == "get":
            op = {"kind": kind, "class": "read", "path": path}
        elif kind == "list":
            op = {"kind": kind, "class": "read"}
        elif kind == "upsert":
            docs = [rewrite(path) for _ in range(rng.randrange(1, 4))]
            docs += [new_doc() for _ in range(rng.randrange(0, 2))]
            op = {"kind": kind, "class": "write", "path": path,
                  "docs": list({d[0]: d for d in docs}.values())}
        elif kind == "remove":
            keys = rng.sample(sorted(model.paths[path]), 2)
            op = {"kind": kind, "class": "write", "path": path, "keys": keys}
        else:
            # alternate: the lease owner (must succeed) and a stale
            # non-owner naming a live key (must be refused)
            client = "owner" if creates % 2 == 0 else "other"
            creates += 1
            if client == "owner":
                owned = [p for p in paths if model.owned[p] == model.gen[p]]
                if owned:
                    path = rng.choice(owned)
                    docs = [rewrite(path), new_doc()]
                else:
                    docs = [new_doc(), new_doc()]
            else:
                docs = [rewrite(path), new_doc()]
            op = {"kind": kind, "class": "write", "path": path,
                  "client": client, "docs": docs,
                  # the lease check (one read query) runs unless the
                  # caller proves ownership of the current generation
                  "check": not (client == "owner"
                                and model.owned[path] == model.gen[path])}
        op["expect"] = model.apply(op)
        ops.append(op)
    return ops


def pot_live_bytes(model: PotModel) -> int:
    return sum(len(jdump(dict(zip(POT_COLS, (k,) + tuple(d)))).encode())
               for docs in model.paths.values() for k, d in docs.items())


# -------------------------------------------------------------- bucketed-sql

# point reads are 3/4 of reads, so the read median sits well inside them
SQL_READ_MIX = {"point": 9, "in": 1, "count": 1, "agg": 1}
SQL_WRITE_MIX = {"insert": 4, "update": 4, "merge": 2, "delete": 2}
SQL_INSERT_ROWS = 10
SQL_UNIT = 26  # one block of reads and writes, then compact + vacuum

AGG_SQL = ("SELECT get_json_object(doc_json, '$.status') AS status, "
           "count(*) AS n, "
           "sum(CAST(get_json_object(doc_json, '$.qty') AS BIGINT)) AS qty "
           "FROM {T} GROUP BY 1")


def sql_doc(rng: random.Random) -> dict:
    return {"cust": rng.randrange(100000), "status": rng.choice("FOP"),
            "price": rng.randrange(100000, 50000000),
            "prio": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                "4-NOT SPECIFIED", "5-LOW"]),
            "qty": rng.randrange(1, 51)}


def q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class SqlModel:
    def __init__(self, docs: dict):
        self.docs = dict(docs)

    def agg(self):
        out = {}
        for d in self.docs.values():
            n, qty = out.get(d["status"], (0, 0))
            out[d["status"]] = (n + 1, qty + d["qty"])
        return out

    def apply(self, op: dict):
        kind = op["kind"]
        if kind == "point":
            k = op["keys"][0]
            return [[k, self.docs[k]]] if k in self.docs else []
        if kind == "in":
            return sorted([k, self.docs[k]] for k in op["keys"]
                          if k in self.docs)
        if kind == "count":
            return len(self.docs)
        if kind == "agg":
            return self.agg()
        if kind in ("insert", "update"):
            for k, d in op["rows"]:
                self.docs[k] = d
        elif kind == "merge":
            for k, d, action in op["rows"]:
                if action == "d":
                    self.docs.pop(k, None)
                else:
                    self.docs[k] = d
        elif kind == "delete":
            for k in op["keys"]:
                self.docs.pop(k, None)
        return None


def sql_initial(orders: list) -> dict:
    """orders: (orderkey, custkey, status, totalprice, priority) rows; the
    quantity is derived from the key so it is seed-stable and integral."""
    return {f"o{r[0]:07d}": {"cust": int(r[1]), "status": r[2],
                             "price": int(round(r[3] * 100)),
                             "prio": r[4], "qty": int(r[0]) % 50 + 1}
            for r in orders}


def sql_ops(seed: int, initial: dict, n_ops: int) -> list:
    rng = random.Random(seed)
    model = SqlModel(initial)
    live = sorted(initial)
    live_set = set(live)
    fresh = iter(range(10 ** 9))

    def pick():
        while True:
            k = live[rng.randrange(len(live))]
            if k in live_set:
                return k

    def drop(k):
        live_set.discard(k)

    def add(k):
        if k not in live_set:
            live_set.add(k)
            live.append(k)

    mix = dict(SQL_READ_MIX, **SQL_WRITE_MIX)
    ops = []
    for n, kind in enumerate(blocks(rng, mix, n_ops)):
        if kind == "point":
            k = pick() if rng.random() < 0.9 else f"x{next(fresh):07d}"
            op = {"keys": [k], "sql":
                  f"SELECT key, doc_json FROM {{T}} WHERE key = {q(k)}"}
        elif kind == "in":
            ks = [pick() for _ in range(6)] + [f"x{next(fresh):07d}"
                                               for _ in range(2)]
            ks = sorted(set(ks))
            op = {"keys": ks, "sql": "SELECT key, doc_json FROM {T} "
                  f"WHERE key IN ({', '.join(q(k) for k in ks)})"}
        elif kind == "count":
            op = {"sql": "SELECT count(*) FROM {T}"}
        elif kind == "agg":
            op = {"sql": AGG_SQL}
        elif kind == "insert":
            rows = [[f"i{next(fresh):07d}", sql_doc(rng)]
                    for _ in range(SQL_INSERT_ROWS)]
            op = {"rows": rows, "sql": "INSERT INTO {T} VALUES " + ", ".join(
                f"('', {q(k)}, {q(jdump(d))})" for k, d in rows)}
            for k, _ in rows:
                add(k)
        elif kind == "update":
            k, d = pick(), sql_doc(rng)
            op = {"rows": [[k, d]], "sql": f"UPDATE {{T}} SET doc_json = "
                  f"{q(jdump(d))} WHERE key = {q(k)}"}
        elif kind == "merge":
            ku = pick()
            kd = pick()
            while kd == ku:
                kd = pick()
            rows = [[ku, sql_doc(rng), "u"], [kd, None, "d"],
                    [f"m{next(fresh):07d}", sql_doc(rng), "i"]]
            src = ", ".join(
                f"({q(k)}, {q(jdump(d)) if d else 'NULL'}, {q(a)})"
                for k, d, a in rows)
            op = {"rows": rows, "sql":
                  "MERGE INTO {T} t USING (SELECT * FROM VALUES " + src +
                  " AS s(key, doc, op)) s ON t.key = s.key "
                  "WHEN MATCHED AND s.op = 'd' THEN DELETE "
                  "WHEN MATCHED THEN UPDATE SET doc_json = s.doc "
                  "WHEN NOT MATCHED THEN INSERT (pot_file, key, doc_json) "
                  "VALUES ('', s.key, s.doc)"}
            drop(kd)
            add(rows[2][0])
        else:  # delete
            ks = sorted({pick(), pick()})
            op = {"keys": ks, "sql": "DELETE FROM {T} WHERE key IN ("
                  + ", ".join(q(k) for k in ks) + ")"}
            for k in ks:
                drop(k)
        op["kind"] = kind
        op["class"] = "read" if kind in SQL_READ_MIX else "write"
        op["expect"] = model.apply(op)
        ops.append(op)
        if (n + 1) % sum(mix.values()) == 0:
            ops.append({"kind": "compact", "class": "maint", "expect": None,
                        "sql": "CALL graft_fns.sys.compact_pot('{ROOT}')"})
            ops.append({"kind": "vacuum", "class": "maint", "expect": None,
                        "sql": "CALL graft_fns.sys.vacuum_pot_retain("
                               "'{ROOT}', '0')"})
    return ops


def sql_live_bytes(model: SqlModel) -> int:
    return sum(len(jdump(dict(d, key=k)).encode())
               for k, d in model.docs.items())


def sql_result_matches(op: dict, got) -> bool:
    """Compare a read's rows (lists of strings from the driver) with the
    model's prediction; documents are compared as parsed JSON."""
    exp = op["expect"]
    if op["kind"] == "count":
        return len(got) == 1 and int(got[0][0]) == exp
    if op["kind"] == "agg":
        return {r[0]: (int(r[1]), int(r[2])) for r in got} == exp
    rows = sorted([r[0], json.loads(r[1])] for r in got)
    return rows == exp


# -------------------------------------------------------------------- replay

def replay(workload: str, ops: list, records: list) -> dict:
    """Check each executed operation's outcome against the prediction made
    when the list was generated. Records are the driver's, in execution
    order; only the executed prefix of `ops` is checked."""
    wrong, unexpected, refusals, planned = [], [], 0, 0
    for op, rec in zip(ops, records):
        exp = op["expect"]
        if rec["outcome"].startswith("error"):
            unexpected.append((rec["i"], rec["outcome"]))
            continue
        if workload == "pot-parity":
            if exp[0] == "refused":
                planned += 1
            if rec["outcome"] == "refused":
                refusals += 1
            ok = rec["outcome"] == exp[0] and (
                exp[0] == "refused" or op["kind"] != "get"
                and op["kind"] != "list" or rec.get("result") == exp[1])
        else:
            ok = op["class"] != "read" or sql_result_matches(
                op, rec.get("result", []))
        if not ok:
            wrong.append((rec["i"], op["kind"]))
    return {"checked": min(len(ops), len(records)), "wrong": wrong,
            "unexpected": unexpected, "refusals": refusals,
            "planned_refusals": planned}
