"""Seeded oplog generator and the reference model the CDC checks compare against.

Everything here is independent of the program under test: oplog lines are
rendered by this module's own JSON writer, and the expected sink state comes
from this module's own fold of Mongo update semantics over whole documents
(projected onto the declared columns only at the end). Nothing is shared with
the program's decoder, apply path or JSON parser.
"""
import bisect
import copy
import json
import random

DB = "bench"
FOREIGN_NS = DB + ".audit"          # not replicated: the pushed filter drops it
HEARTBEAT_NS = "admin.$cmd"          # reaches the decoder's `n` branch

# Declared sink columns, in config order: (dotted source path, declared type).
# Every type is one Derby stores natively, so the check compares values.
COLUMNS = {
    "accounts": [
        ("name", "varchar(64)"), ("age", "integer"), ("score", "double"),
        ("visits", "bigint"), ("addr.city", "varchar(64)"),
        ("addr.zip", "integer"), ("tags", "varchar(4000)"),
    ],
    "carts": [
        ("status", "varchar(16)"), ("total", "double"), ("items", "bigint"),
        ("ship.country", "varchar(8)"), ("ship.eta", "bigint"),
        ("lines", "varchar(4000)"),
    ],
}
COMPOSITE = {"tags", "lines"}        # arrays, stored as JSON text
COLLECTIONS = sorted(COLUMNS)

# Spark read schema of the collection dumps (declared plus undeclared fields).
DUMP_SCHEMA = {
    "accounts": "_id STRING, name STRING, age BIGINT, score DOUBLE, visits BIGINT, "
                "addr STRUCT<city: STRING, zip: BIGINT>, tags ARRAY<STRING>, note STRING",
    "carts": "_id STRING, status STRING, total DOUBLE, items BIGINT, "
             "ship STRUCT<country: STRING, eta: BIGINT>, "
             "lines ARRAY<STRUCT<sku: STRING, qty: BIGINT, price: DOUBLE>>, "
             "meta STRUCT<src: STRING>",
}

# Entry kinds and their shares of the published entries. The traffic is
# synthetic: no measured oplog stands behind these shares, the Zipf exponent
# or the rates and segment sizes in run.py. They are chosen so that a short
# run reaches every OplogDecoder branch many times.
OP_MIX = [
    ("set", 0.26), ("diff", 0.16), ("replace", 0.10), ("delete", 0.08),
    ("insert", 0.10), ("txn", 0.10), ("heartbeat", 0.08), ("foreign", 0.12),
]
ZIPF_S = 1.1
TS_BASE = 1_700_000_000 << 32

CITIES = ["berlin", "lyon", "osaka", "quito", "perth", "oslo", "lima", "pune"]
WORDS = ["red", "blue", "vip", "new", "trial", "eu", "us", "beta", "gold", "bulk"]
STATUSES = ["open", "paid", "shipped", "void"]
COUNTRIES = ["DE", "FR", "JP", "EC", "AU", "NO", "PE", "IN"]


def config_yaml(sink_url):
    """The program's mapping config for the two replicated collections."""
    out = [f"inp: mongodb://localhost:27017/{DB}", f"out: {sink_url}", "tables:"]
    for c in COLLECTIONS:
        out.append(f"  {c}:")
        out += [f"    {path}: {typ}" for path, typ in COLUMNS[c]]
    return "\n".join(out) + "\n"


def sink_name(path):
    return path.replace(".", "_")


# --------------------------------------------------------------- JSON writer
def render(v):
    """Compact JSON text; floats keep a '.' or exponent so they stay doubles."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        t = repr(v)
        return t if any(ch in t for ch in ".eE") else t + ".0"
    if isinstance(v, str):
        return _render_str(v)
    if isinstance(v, dict):
        return "{" + ",".join(_render_str(k) + ":" + render(x) for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    raise TypeError(f"cannot render {type(v).__name__}")


def _render_str(s):
    out = ['"']
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch < " ":
            out.append("\\u%04x" % ord(ch))
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


# ------------------------------------------------------------ reference fold
class Model:
    """Whole documents per collection, folded with Mongo's update semantics."""

    def __init__(self):
        self.docs = {c: {} for c in COLLECTIONS}

    def apply(self, entry):
        op, ns = entry["op"], entry["ns"]
        if op == "n":
            return
        if op == "c":
            for inner in entry["o"]["applyOps"]:
                self.apply(inner)
            return
        db, _, coll = ns.partition(".")
        if db != DB or coll not in self.docs:
            return
        docs = self.docs[coll]
        o = entry["o"]
        if op == "i":
            docs[o["_id"]] = _without_id(o)
        elif op == "d":
            docs.pop(o["_id"], None)
        elif op == "u":
            key = entry["o2"]["_id"]
            if "$set" in o or "$unset" in o:
                doc = docs[key]
                for path, v in o.get("$set", {}).items():
                    _set_path(doc, path.split("."), copy.deepcopy(v))
                for path in o.get("$unset", {}):
                    _unset_path(doc, path.split("."))
            elif o.get("$v") == 2:
                _apply_diff(docs[key], o["diff"])
            else:
                docs[key] = _without_id(o)
        else:
            raise ValueError(f"unknown op {op}")

    def project(self, coll, key):
        """Expected sink row: declared columns of the document, or None if absent."""
        doc = self.docs[coll].get(key)
        if doc is None:
            return None
        row = {}
        for path, _ in COLUMNS[coll]:
            v = doc
            for part in path.split("."):
                v = v.get(part) if isinstance(v, dict) else None
            row[sink_name(path)] = v
        return row


def _without_id(o):
    return {k: copy.deepcopy(v) for k, v in o.items() if k != "_id"}


def _set_path(doc, parts, v):
    for p in parts[:-1]:
        doc = doc.setdefault(p, {})
    doc[parts[-1]] = v


def _unset_path(doc, parts):
    for p in parts[:-1]:
        doc = doc.get(p)
        if not isinstance(doc, dict):
            return
    doc.pop(parts[-1], None)


def _apply_diff(doc, diff):
    for k, v in diff.items():
        if k in ("u", "i"):
            doc.update(copy.deepcopy(v))
        elif k == "d":
            for f in v:
                doc.pop(f, None)
        elif k.startswith("s") and len(k) > 1:
            _apply_diff(doc.setdefault(k[1:], {}), v)


# ----------------------------------------------------------------- generator
class Generator:
    """Deterministic stream of oplog entries under one seed.

    Keys are drawn with a Zipf(ZIPF_S) skew over each collection's initial key
    set; every published entry is folded into `model` as it is made.
    """

    def __init__(self, seed, docs_per_collection):
        self.rng = random.Random(seed)
        self.model = Model()
        self.ts = TS_BASE
        self.keys, self.cum, self.next_id = {}, {}, {}
        for c in COLLECTIONS:
            prefix = c[0]
            keys = [f"{prefix}{i:07d}" for i in range(docs_per_collection)]
            for k in keys:
                self.model.docs[c][k] = self._doc(c)
            self.rng.shuffle(keys)           # hot keys spread over the key space
            self.keys[c] = keys
            acc, cum = 0.0, []
            for r in range(len(keys)):
                acc += 1.0 / (r + 1) ** ZIPF_S
                cum.append(acc)
            self.cum[c] = cum
            self.next_id[c] = docs_per_collection
        self._kinds = [k for k, _ in OP_MIX]
        acc, self._kind_cum = 0.0, []
        for _, w in OP_MIX:
            acc += w
            self._kind_cum.append(acc)

    # -- documents
    def _doc(self, coll):
        r = self.rng
        if coll == "accounts":
            d = {"name": f"{r.choice(WORDS)}-{r.randrange(10**6)}",
                 "age": r.randrange(18, 90),
                 "score": round(r.uniform(0, 1000), 2),
                 "visits": r.randrange(10**9),
                 "addr": {"city": r.choice(CITIES), "zip": r.randrange(10000, 99999)},
                 "tags": r.sample(WORDS, r.randrange(0, 4)),
                 "note": "x" * r.randrange(0, 40)}
            if r.random() < 0.1:
                del d["score"]
        else:
            d = {"status": r.choice(STATUSES),
                 "total": round(r.uniform(1, 5000), 2),
                 "items": r.randrange(1, 50),
                 "ship": {"country": r.choice(COUNTRIES), "eta": r.randrange(10**6)},
                 "lines": [{"sku": f"k{r.randrange(1000)}", "qty": r.randrange(1, 9),
                            "price": round(r.uniform(1, 300), 2)}
                           for _ in range(r.randrange(1, 4))],
                 "meta": {"src": r.choice(["web", "app"])}}
            if r.random() < 0.1:
                del d["ship"]
        return d

    def dump(self, coll):
        """The collection as JSON lines: the snapshot source."""
        return [render(dict(_id=k, **d)) for k, d in self.model.docs[coll].items()]

    # -- keys
    def _zipf_key(self, coll):
        cum = self.cum[coll]
        i = bisect.bisect_left(cum, self.rng.random() * cum[-1])
        return self.keys[coll][min(i, len(cum) - 1)]

    def _fresh_key(self, coll):
        k = f"{coll[0]}{self.next_id[coll]:07d}"
        self.next_id[coll] += 1
        return k

    # -- inner operations (no ts), each kept consistent with the model
    def _op(self, kind, coll):
        ns = f"{DB}.{coll}"
        if kind == "insert":
            key = self._fresh_key(coll)
            return {"op": "i", "ns": ns, "o": dict(_id=key, **self._doc(coll))}
        key = self._zipf_key(coll)
        if key not in self.model.docs[coll]:
            # a deleted key comes back: the re-insert half of delete/re-insert
            return {"op": "i", "ns": ns, "o": dict(_id=key, **self._doc(coll))}
        if kind == "delete":
            return {"op": "d", "ns": ns, "o": {"_id": key}}
        if kind == "replace":
            return {"op": "u", "ns": ns, "o": dict(_id=key, **self._doc(coll)),
                    "o2": {"_id": key}}
        if kind == "set":
            return {"op": "u", "ns": ns, "o": self._set_update(coll), "o2": {"_id": key}}
        return {"op": "u", "ns": ns, "o": {"$v": 2, "diff": self._diff(coll)},
                "o2": {"_id": key}}

    def _set_update(self, coll):
        r = self.rng
        if coll == "accounts":
            sets = {"visits": r.randrange(10**9)}
            if r.random() < 0.5:
                sets["addr.city"] = r.choice(CITIES)
            if r.random() < 0.3:
                sets["tags"] = r.sample(WORDS, r.randrange(1, 4))
            if r.random() < 0.3:
                sets["score"] = round(r.uniform(0, 1000), 2)
            u = {"$set": sets}
            roll = r.random()
            if roll < 0.15:
                u["$unset"] = {"addr": 1}           # whole subdocument
            elif roll < 0.3:
                u["$unset"] = {"age": 1}
            elif roll < 0.4:
                u["$unset"] = {"note": 1}           # undeclared field
            return u
        sets = {"status": r.choice(STATUSES), "total": round(r.uniform(1, 5000), 2)}
        if r.random() < 0.4:
            sets["ship.eta"] = r.randrange(10**6)
        u = {"$set": sets}
        if r.random() < 0.15:
            u["$unset"] = {"ship.country": 1}
        return u

    def _diff(self, coll):
        r = self.rng
        if coll == "accounts":
            d = {"u": {"score": round(r.uniform(0, 1000), 2), "age": r.randrange(18, 90)}}
            if r.random() < 0.5:
                d["saddr"] = {"u": {"zip": r.randrange(10000, 99999)}}
            if r.random() < 0.2:
                d["d"] = {"tags": False}
            if r.random() < 0.2:
                d["i"] = {"tags": r.sample(WORDS, 2)}
                d.pop("d", None)
            return d
        d = {"u": {"items": r.randrange(1, 50),
                   "lines": [{"sku": f"k{r.randrange(1000)}", "qty": r.randrange(1, 9),
                              "price": round(r.uniform(1, 300), 2)}]}}
        if r.random() < 0.4:
            d["sship"] = {"u": {"country": r.choice(COUNTRIES)}}
        if r.random() < 0.1:
            d["sship"] = {"d": {"eta": False}}
        return d

    # -- whole entries
    def entry(self, kind=None):
        """Next published entry (folded into the model before it is returned)."""
        if kind is None:
            kind = self._kinds[bisect.bisect_left(self._kind_cum, self.rng.random())]
        self.ts += 1
        r = self.rng
        if kind == "heartbeat":
            body = {"op": "n", "ns": HEARTBEAT_NS, "o": {"msg": "periodic noop"}}
        elif kind == "foreign":
            body = {"op": "i", "ns": FOREIGN_NS,
                    "o": {"_id": f"e{self.ts & 0xffffffff}", "what": r.choice(WORDS)}}
        elif kind == "txn":
            inner = []
            for _ in range(r.randrange(2, 5)):
                op = self._op(r.choice(["set", "replace", "delete", "insert"]),
                              r.choice(COLLECTIONS))
                self.model.apply(op)             # later inner ops see earlier ones
                inner.append(op)
            if r.random() < 0.3:
                inner.append({"op": "i", "ns": FOREIGN_NS,
                              "o": {"_id": f"t{self.ts & 0xffffffff}"}})
            body = {"op": "c", "ns": HEARTBEAT_NS, "o": {"applyOps": inner}}
        else:
            body = self._op(kind, r.choice(COLLECTIONS))
            self.model.apply(body)
        e = {"op": body["op"], "ns": body["ns"], "ts": self.ts, "o": body["o"]}
        if "o2" in body:
            e["o2"] = body["o2"]
        return e

    def segment(self, n):
        """`n` entries as segment text; the last one is always applied to the
        sink (a $set), so a committed segment moves the stored offset to its
        last ts."""
        lines = [render(self.entry()) for _ in range(n - 1)]
        lines.append(render(self.entry("set")))
        return "\n".join(lines) + "\n"

    def stale_rows(self, n):
        """Sink rows the snapshot must fix: `n` orphans per collection whose key
        the source lacks, plus `n` rows of live keys carrying wrong values."""
        out = {}
        for c in COLLECTIONS:
            rows = []
            for i in range(n):
                row = {sink_name(p): None for p, _ in COLUMNS[c]}
                row["_id"] = f"z{c[0]}{i:06d}"
                rows.append(row)
            for k in list(self.model.docs[c])[:n]:
                row = {sink_name(p): None for p, _ in COLUMNS[c]}
                row["_id"] = k
                row[sink_name(COLUMNS[c][0][0])] = "stale"
                rows.append(row)
            out[c] = rows
        return out


def parse_sink_value(path_col, v):
    """Sink cell -> comparable value (composites are compared as parsed JSON)."""
    if v is not None and path_col in COMPOSITE:
        return json.loads(v)
    return v
