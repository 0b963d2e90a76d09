"""Output checks for the graft benchmark.

Each check takes one request's output (as `graftbench.Main` collected it) and
returns a list of problems (empty means correct) plus any quality figures
(recall). The expected answers come from DuckDB for the relational
templates and from exact Python re-computation for the curation and vector
paths; none of them run inside the timed loop.
"""
import math
import re
from collections import Counter, defaultdict


# ---------------------------------------------------------------- helpers


def _num_eq(a, b, rel=1e-6, abs_=1e-6):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def _val_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return _num_eq(a, b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_val_eq(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, bool):
            return (1, str(v))
        if isinstance(v, (int, float)):
            return (2, f"{float(v):.9g}")
        return (3, str(v))
    return tuple(k(v) for v in row)


def rows_equal(got, want):
    """Order-insensitive row comparison with a float tolerance."""
    if len(got) != len(want):
        return [f"row count {len(got)} != expected {len(want)}"]
    for i, (g, w) in enumerate(zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key))):
        if len(g) != len(w) or not all(_val_eq(x, y) for x, y in zip(g, w)):
            return [f"row {i}: got {g} expected {w}"]
    return []


# ------------------------------------------------------ relational (DuckDB)


def _dbl(x):
    return f"CAST({float(x)!r} AS DOUBLE)"


def _strs(xs):
    return ", ".join("'" + s.replace("'", "''") + "'" for s in xs)


def relational_sql(con, template, p):
    """The DuckDB statement answering one relational template instance."""
    if template == "pipeline":
        return f"""SELECT o_orderpriority, o_orderstatus, count(orderkey) AS orderkey_count FROM (
            SELECT DISTINCT l_orderkey AS orderkey, o_orderpriority, o_orderstatus
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_quantity <= {_dbl(p['qmax'])}) GROUP BY ALL"""
    if template == "filters_agg":
        return f"""SELECT l_returnflag, l_linestatus, sum(l_extendedprice), avg(l_quantity),
            max(l_discount), count(l_orderkey) FROM lineitem
            WHERE l_discount BETWEEN {_dbl(p['dlo'])} AND {_dbl(p['dhi'])}
              AND l_returnflag IN ({_strs(p['flags'])}) AND l_quantity < {_dbl(p['qmax'])}
            GROUP BY ALL"""
    if template == "median":
        return f"""SELECT l_returnflag, median(l_extendedprice), median(l_quantity) FROM lineitem
            WHERE l_discount >= {_dbl(p['dmin'])} GROUP BY ALL"""
    if template == "broadcast_join":
        return f"""SELECT p_type, sum(l_quantity), avg(l_extendedprice), count(l_partkey)
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand IN ({_strs(p['brands'])}) GROUP BY ALL"""
    if template == "shuffle_join":
        return f"""SELECT c_mktsegment, sum(l_extendedprice), count(DISTINCT o_orderkey)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE o_totalprice > {_dbl(p['pmin'])} GROUP BY ALL"""
    if template == "topk":
        return f"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            WHERE l_returnflag = '{p['flag']}' AND l_tax <= {_dbl(p['tmax'])}
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {int(p['k'])}"""
    if template == "window_rank":
        return f"""SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            WHERE l_suppkey < {int(p['smax'])}
            QUALIFY row_number() OVER (PARTITION BY l_suppkey
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= {int(p['k'])}"""
    if template == "rollup":
        return f"""SELECT l_returnflag, l_linestatus, count(*), count(l_extendedprice),
            sum(l_extendedprice), min(l_extendedprice), max(l_extendedprice),
            avg(l_extendedprice) FROM lineitem WHERE l_quantity >= {_dbl(p['qmin'])}
            GROUP BY ROLLUP (l_returnflag, l_linestatus)"""
    if template == "sessionize":
        gap = int(p["gap"]) * 60 * 1_000_000
        return f"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
                WHERE user_id < {int(p['umax'])}),
            f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                    OR ts_us - lag(ts_us) OVER w > {gap} THEN 1 ELSE 0 END AS is_new
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
            g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
            SELECT user_id, CAST(session_id AS BIGINT), count(*), min(ts_us), max(ts_us)
            FROM g GROUP BY user_id, session_id"""
    if template == "tumbling":
        m = int(p["minutes"])
        return f"""SELECT epoch_us(time_bucket(INTERVAL '{m} minutes', ts)), event_type,
            count(*), sum(CAST(round(value * 100) AS BIGINT)) FROM events
            WHERE event_type IN ({_strs(p['types'])}) GROUP BY ALL"""
    if template == "cleaner":
        where = f"c_nationkey IN ({', '.join(str(int(n)) for n in p['nations'])})"
        cats = [r[0] for r in con.execute(
            f"SELECT DISTINCT c_mktsegment FROM customer WHERE {where} "
            "AND c_mktsegment IS NOT NULL AND c_mktsegment <> '' ORDER BY 1").fetchall()]
        clip = "least(greatest(c_acctbal, lo), hi)"
        if p["scale"] == "standard":
            scaled = (f"CASE WHEN sd = 0 THEN 0.0 ELSE ({clip} - m) / sd END")
        else:
            scaled = f"CASE WHEN hi = lo THEN 0.0 ELSE ({clip} - lo) / (hi - lo) END"
        onehot = "".join(f", coalesce(c_mktsegment = '{c}', false)" for c in cats)
        return f"""WITH c AS (SELECT * FROM customer WHERE {where}),
            s AS (SELECT avg(c_acctbal) AS m, min(c_acctbal) AS lo, max(c_acctbal) AS hi,
                sqrt(greatest(0.0, (sum(c_acctbal * c_acctbal)
                  - sum(c_acctbal) * sum(c_acctbal) / count(c_acctbal)) / count(c_acctbal))) AS sd
                FROM c)
            SELECT CAST(c_custkey AS DOUBLE), {scaled}{onehot} FROM c, s"""
    raise ValueError(f"unknown template {template}")


def relational_expected(con, template, params):
    return [list(r) for r in con.execute(relational_sql(con, template, params)).fetchall()]


# ---------------------------------------------------- curation (Python refs)

EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it"]
LANG_PROFILES = [
    ("en", EN_STOP),
    ("de", ["der", "die", "das", "und", "ist", "ein", "zu", "den"]),
    ("es", ["el", "la", "que", "y", "en", "un", "es", "los"]),
    ("fr", ["le", "la", "et", "un", "une", "est", "dans", "les"]),
    ("zh", ["的", "是", "在", "了", "我", "有", "和", "不"]),
]
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PHONE = re.compile(r"(\+1[- ]|\b1[- ])?\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b")


def normalize(text):
    return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip(" ")


def _tokens(text):
    return re.split(r"\s+", text.strip(" "))


def quality(text):
    if len(text.strip(" ")) == 0:
        return 0.0
    toks = _tokens(text.lower())
    n = float(len(toks))
    stop = float(sum(1 for t in toks if t in EN_STOP))
    alnum = float(len(re.sub(r"[^A-Za-z0-9]", "", text)))
    return 0.3 * min(n / 100.0, 1.0) + 0.4 * min(5.0 * (stop / n), 1.0) + 0.3 * (alnum / len(text))


def lang_id(text):
    toks = _tokens(text.lower())
    scores = [(lang, sum(1 for t in toks if t in prof)) for lang, prof in LANG_PROFILES]
    best = max(s for _, s in scores)
    for lang, s in scores:
        if s == best and s > 0:
            return lang
    return "und"


def shingles(text, n=3):
    toks = _tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def bpe_pieces(word, merges):
    syms = list(word)
    for a, b in merges:
        out = [syms[0]]
        for x in syms[1:]:
            if x == b and out[-1] == a:
                out[-1] = a + b
            else:
                out.append(x)
        syms = out
    return syms


class Curation:
    """Reference answers for the curation batches of one generated corpus."""

    def __init__(self, docs, batches, n_standing):
        self.docs = docs
        self.batches = batches
        self.n_standing = n_standing
        self.by_family = defaultdict(list)
        for i, f in enumerate(docs["family"]):
            self.by_family[int(f)].append(i)
        self._shingles = {}

    def _sh(self, i):
        s = self._shingles.get(i)
        if s is None:
            s = self._shingles[i] = shingles(self.docs["text"][i])
        return s

    def check(self, batch, out, merges):
        problems = []
        lo, hi = self.batches[batch]
        ids = range(lo, hi)
        texts = self.docs["text"]

        ann = defaultdict(lambda: [0, 0, 0.0, 0, 0])
        for i in ids:
            a = ann[lang_id(texts[i])]
            a[0] += 1
            a[1] += len(normalize(texts[i]))
            a[2] += quality(texts[i])
            a[3] += len(EMAIL.findall(texts[i]))
            a[4] += sum(1 for _ in PHONE.finditer(texts[i]))
        problems += ["annotate: " + p for p in rows_equal(out["annotate"], [[k] + v for k, v in ann.items()])]

        groups = defaultdict(list)
        for i in ids:
            groups[normalize(texts[i])].append(i)
        want_exact = [[min(g), len(g)] for g in groups.values() if len(g) > 1]
        problems += ["exact: " + p for p in rows_equal(out["exact"], want_exact)]

        found = set()
        in_batch = set(ids)
        for a, b, j in out["pairs"]:
            if a not in in_batch or not (b in in_batch or b < self.n_standing) or a == b:
                problems.append(f"pair ({a}, {b}) outside the batch and standing corpus")
                continue
            jt = jaccard(self._sh(a), self._sh(b))
            if jt < 0.8 - 1e-9 or abs(jt - j) > 1e-9:
                problems.append(f"pair ({a}, {b}) jaccard {j} but exact {jt}")
            found.add((min(a, b), max(a, b)))
        truth = set()
        for d in ids:
            for o in self.by_family[int(self.docs["family"][d])]:
                if o != d and (o in in_batch or o < self.n_standing) \
                        and jaccard(self._sh(d), self._sh(o)) >= 0.8:
                    truth.add((min(d, o), max(d, o)))
        hit = len(truth & found)

        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in found:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want_cc = [[i, find(i)] for i in ids if find(i) != i]
        got_cc = [r for r in out["components"] if r[0] in in_batch]
        problems += ["components: " + p for p in rows_equal(got_cc, want_cc)]

        words = Counter(w for i in ids for w in normalize(texts[i]).split())
        want_enc = [[w, c, bpe_pieces(w, merges)] for w, c in words.items()]
        problems += ["encode: " + p for p in rows_equal(out["encode"], want_enc)]

        per = defaultdict(lambda: [0, 0, 0])
        npieces = {w: len(bpe_pieces(w, merges)) for w in words}
        for i in ids:
            ws = normalize(texts[i]).split()
            if ws:
                s = per[self.docs["source"][i]]
                s[0] += len(ws)
                s[1] += sum(npieces[w] for w in ws)
                s[2] += 1
        problems += ["per_source: " + p for p in rows_equal(out["per_source"], [[k] + v for k, v in per.items()])]
        return problems, {"neardup_truth": len(truth), "neardup_hit": hit}


# ------------------------------------------------------ vector (Python refs)


def bm25_scores(doc_tokens, terms, k1=1.2, b=0.75):
    """Per-doc BM25 in the library's micro-quantized form."""
    n = len(doc_tokens)
    tt = sum(len(t) for t in doc_tokens.values())
    avgdl = tt / n
    df = Counter()
    for toks in doc_tokens.values():
        for t in set(toks):
            if t in terms:
                df[t] += 1
    scores = {}
    for d, toks in doc_tokens.items():
        tf = Counter(t for t in toks if t in terms)
        if not tf:
            continue
        s = 0
        for t, f in tf.items():
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            x = idf * f * (k1 + 1.0) / (f + k1 * ((1.0 - b) + b * len(toks) / avgdl)) * 1e6
            s += int(math.floor(x + 0.5))
        scores[d] = s
    return scores


def bm25_problems(got, doc_tokens, terms, k):
    """Compare returned (doc, score_micro, rank) rows with exact BM25: each
    returned score must be the doc's own, and the score sequence must be the
    top-k sequence (ties may order docs either way). Rounding each term's
    contribution allows one micro per term."""
    scores = bm25_scores(doc_tokens, terms)
    want = sorted(scores.values(), reverse=True)[:k]
    tol = len(terms)
    if len(got) != len(want):
        return [f"bm25 returned {len(got)} docs, expected {len(want)}"]
    for (d, s, _), w in zip(got, want):
        if abs(scores.get(d, -10**12) - s) > tol or abs(s - w) > tol:
            return [f"bm25 doc {d} score {s}, exact {scores.get(d)}, expected top score {w}"]
    return []


def rrf(lists, k, rrf_k=60):
    acc = defaultdict(int)
    for rows in lists:
        for doc, rank in rows:
            acc[doc] += 1_000_000_000 // (rrf_k + rank)
    ranked = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]
    return [[d, s, i + 1] for i, (d, s) in enumerate(ranked)]
