"""Seeded FlatConnect-shaped survey tables, and the output every step of
the survey DAG must produce, from one spec.

Every column belongs to a family whose cleaned name and value rule are fixed
by the reference's behaviour as FIXTURES.md S1-S5 pins it: loop variables
(d_C_N_N, d_C_N_N_N_N), versioned and multi-concept names, state_/_num
names, forbidden names, binary and false-array value domains, the one-off
renames of FlatConnect.module1_v1_JP / module1_v2_JP, the custom age/year
transforms of module1_v2_JP, and the 18 sensitive-tier columns. The expected
outputs are computed here from those rules with pyarrow; nothing here runs
the engine's transforms.

Where the mix comes from. No real FlatConnect column list is in the
repository, so the mix is not real traffic. The bulk of every table follows
the engine's own wide-survey gate, clean_columns_wide
(`SurveyQueries.wideSrcs`): blocks of 20 index steps, each step one plain
d_C, one loop variable d_C_n_n, one versioned loop variable d_C_v2_n_n and
one state_d_C name, plus one loop pair d_C_n_n / d_C_n_n_n_n per block.
Its value rule too: there column i holds values modulo 2 + i % 9, so one
column in nine is binary, and the first column of each loop pair is NULL on
one row in three. Here every ninth block column is binary, and a generic
column holds 0..m-1, m cycling over 3..10. The other families (upper-case
D_ names, multi-concept and versioned non-loop names, _num, state_/plain
collisions, mostly-binary columns, forbidden names) appear at a fixed
count each, enough to exercise their path; no share of real tables is
claimed for them. The false-array
columns are the reference's false-array concept ids (core/constants.py),
spread over the modules; the 18 sensitive-tier columns and the one-off
renames are the reference's. Value domains are FIXTURES.md S3's: binary
{"0", "1", NULL, ""}, false arrays "[]", "[178420302]", "[958239616]",
NULL and junk; each value of a domain is equally likely.

The seed picks the concept ids, loop numbers, column order and values; the
family mix and the table sizes are fixed, so every seed does the same work.
"""
import json
import random
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- spec data: the reference's constants (core/constants.py) ---------------

CID_YES, CID_NO = "353358909", "104430631"
SENSITIVE = ["CONNECT_ID", "d_849518448", "d_684926335", "d_253532712", "d_119643471",
             "d_706256705", "d_435027713", "d_827220437", "d_699625233", "d_919254129",
             "d_558435199", "d_878865966", "d_684635302", "d_167958071", "d_949302066",
             "d_536735468", "d_663265240", "d_976570371"]
FORBIDDEN = ["token", "uid", "date", "sha", "siteAcronym", "utm_source", "verifiedSeen",
             "id", "pin", "firstSurveyCompletedSeen"]
FORBIDDEN_ALL = FORBIDDEN + ["state_studyId", "state_uid"]
EXCLUDED_SUBSTRINGS = [
    "provided", "string", "integer", "entity", "sibcanc3d", "chol", "momcanc3d",
    "sibcanc3o", "uf", "dadcanc3k", "bloodclot", "depress2", "htn", "append", "tublig",
    "tonsils", "breastdis", "dm2", "20required"]
FALSE_ARRAY_CIDS = """
236590500 537137982 640010727 869387390 178774803 354326265 422714611 628078826
578895128 273218182 438682764 550092533 618427836 596961796 646042915 753610471
753416375 825189914 803968511 799338907 901498441 893965588 991622246 276575533
517100968 585819411 933417196 123104885 116032363 173413183 212343294 205492848
200086909 201906316 192184336 194944818 216096388 264797252 263588196 268612977
255474241 293954660 298296694 355179190 370121390 350394531 398762737 440597740
443679537 469914719 444145120 508587741 509526051 558981691 581231591 564684946
657986901 668887646 733317111 746604821 757983656 752101258 763354979 787064287
804504024 845811202 890661849 879180101 864213677 878688378 920576363 902193418
961572487 964853797 986316055""".split()
_JP_PAIRS = ["150352141", "122887481", "534007917", "752636038", "518750011",
             "275770221", "527057404"]
RENAMES = {
    "FlatConnect.module1_v1_JP": [
        ("D_122887481_TUBLIG_D_232595513", "d_122887481_d_623218391"),
        ("D_122887481_TUBLIG_D_614366597", "d_122887481_d_802622485"),
        ("D_259089008_1_1_SIBCANC3O_D_230633094_1", "d_259089008_d_206625031_1"),
        ("D_259089008_1_1_SIBCANC3O_D_962468280_1", "d_259089008_d_261863326_1"),
        ("D_301414575_DEPRESS2_D_479548517", "d_301414575_d_261863326"),
        ("D_301414575_DEPRESS2_D_591959654", "d_301414575_d_206625031"),
        ("D_301679110_DM2_D_166195719", "d_301679110_d_261863326"),
        ("D_301679110_DM2_D_861769692", "d_301679110_d_206625031"),
        ("D_355472178_BREASTDIS_D_138780721", "d_619481697_d_261863326"),
        ("D_355472178_BREASTDIS_D_162512268", "d_619481697_d_206625031"),
        ("D_367884741_TONSILS_D_300754548", "d_367884741_d_623218391"),
        ("D_367884741_TONSILS_D_714712574", "d_367884741_d_802622485"),
        ("D_370198527_DADCANC3K_D_260972338", "d_370198527_d_206625031"),
        ("D_370198527_DADCANC3K_D_331562964", "d_370198527_d_261863326"),
        ("D_402548942_MOMCANC3D_D_388289687", "d_402548942_d_206625031"),
        ("D_402548942_MOMCANC3D_D_734800333", "d_402548942_d_261863326"),
        ("D_460062034_BLOODCLOT_D_497018554", "d_460062034_d_206625031"),
        ("D_460062034_BLOODCLOT_D_694594047", "d_460062034_d_261863326"),
        ("D_550075233_APPEND_D_727704681", "d_550075233_d_802622485"),
        ("D_550075233_APPEND_D_919193251", "d_550075233_d_623218391"),
        ("D_836890480_CHOL_D_470282814", "d_836890480_d_261863326"),
        ("D_836890480_CHOL_D_637556277", "d_836890480_d_206625031"),
        ("D_846786840_UF_D_351965599", "d_846786840_d_261863326"),
        ("D_846786840_UF_D_895115511", "d_846786840_d_206625031"),
        ("D_884793537_HTN_D_367670682", "d_884793537_d_206625031"),
        ("D_884793537_HTN_D_608469482", "d_884793537_d_261863326"),
        ("D_907590067_4_4_SIBCANC3O_D_650332509_4", "d_907590067_d_261863326_4"),
        ("D_907590067_4_4_SIBCANC3D_D_932489634_4", "d_907590067_d_206625031_4"),
    ],
    "FlatConnect.module1_v2_JP": [],
}
for _c in _JP_PAIRS:
    for _rename in [(f"D_{_c}_D_206625031", f"d_{_c}_d_623218391"),
                    (f"D_{_c}_D_261863326", f"d_{_c}_d_802622485")]:
        RENAMES["FlatConnect.module1_v1_JP"].append(_rename)
        RENAMES["FlatConnect.module1_v2_JP"].append(_rename)
AGE_SOURCE = "D_317093647"
CUSTOM_TABLE = "FlatConnect.module1_v2_JP"
AGE_VALUES = ["55", "1987", "abc", "", None, "130", "7", "2001", "0", "125", "126", "0042"]

# value domains
GENERIC, BINARY, MOSTLY_BINARY, FALSE_ARR, AGE_YEAR = "generic", "binary", "mostly_binary", \
    "false_array", "age_year"
# how an output is computed from its sources
COALESCE, AGE, YEAR = "coalesce", "age", "year"


class Builder:
    """The column families of one table: raw columns and expected outputs."""

    def __init__(self, rnd, used):
        self.rnd, self.used = rnd, used
        self.k = 0
        self.cols = []   # (name, domain, modulus of a generic column)
        self.outs = []   # (name, sources, domain, rule, step)

    def cid(self):
        while True:
            c = str(self.rnd.randrange(100000000, 1000000000))
            if c not in self.used:
                self.used.add(c)
                return c

    def loop_n(self):
        return self.rnd.randrange(1, 10)

    def add(self, dom, *names, nulls=False):
        """Generic columns take the gate's moduli in turn, skipping 2: a
        binary column is always declared BINARY."""
        for n in names:
            m = 0
            if dom == GENERIC:
                m = 3 + self.k % 8
                self.k += 1
            self.cols.append((n, dom, m, nulls))

    def out(self, name, srcs, dom, step, rule=COALESCE):
        self.outs.append((name, list(srcs), dom, rule, step))

    def loop_pair(self, dom):
        c, n = self.cid(), self.loop_n()
        srcs = [f"d_{c}_{n}_{n}", f"d_{c}_{n}_{n}_{n}_{n}"]
        self.add(dom, srcs[0], nulls=True)
        self.add(dom, srcs[1])
        self.out(f"d_{c}_{n}", srcs, dom, 4)

    def loop_single(self, upper, dom=GENERIC):
        c, n = self.cid(), self.loop_n()
        name = f"{'D' if upper else 'd'}_{c}_{n}_{n}"
        self.add(dom, name)
        self.out(f"d_{c}_{n}", [name], dom, 4)

    def versioned_loop(self, dom=GENERIC, plain_too=False):
        """d_C_v2_n_n, and with `plain_too` d_C_n_n beside it."""
        c, n = self.cid(), self.loop_n()
        if plain_too:
            self.add(GENERIC, f"d_{c}_{n}_{n}")
            self.out(f"d_{c}_{n}", [f"d_{c}_{n}_{n}"], GENERIC, 4)
        self.add(dom, f"d_{c}_v2_{n}_{n}")
        self.out(f"d_{c}_{n}_v2", [f"d_{c}_v2_{n}_{n}"], dom, 4)

    def multi_cid(self):
        a, b, n = self.cid(), self.cid(), self.loop_n()
        name = f"d_{a}_{n}_{n}_d_{b}_{n}_{n}"
        self.add(GENERIC, name)
        self.out(f"d_{a}_d_{b}_{n}", [name], GENERIC, 4)

    def non_loop(self, dom, upper=False, c=None):
        c = c or self.cid()
        name = f"{'D' if upper else 'd'}_{c}"
        self.add(dom, name)
        self.out(f"d_{c}", [name], dom, 5)

    def versioned_non_loop(self):
        a, b = self.cid(), self.cid()
        name = f"d_{a}_v2_d_{b}"
        self.add(GENERIC, name)
        self.out(f"d_{a}_d_{b}_v2", [name], GENERIC, 5)

    def state_prefix(self, dom=GENERIC):
        c = self.cid()
        self.add(dom, f"state_d_{c}")
        self.out(f"d_{c}", [f"state_d_{c}"], dom, 2)

    def num_suffix(self):
        c = self.cid()
        self.add(GENERIC, f"d_{c}_num")
        self.out(f"d_{c}", [f"d_{c}_num"], GENERIC, 2)

    def collision(self):
        """state_d_C and d_C collide after excision; the name with fewer
        excised substrings comes first in the coalesce."""
        c = self.cid()
        self.add(GENERIC, f"state_d_{c}", f"d_{c}")
        self.out(f"d_{c}", [f"d_{c}", f"state_d_{c}"], GENERIC, 2)

    def false_array(self, x, loop):
        if loop is None:
            self.add(FALSE_ARR, f"d_{x}_d_{x}")
            self.out(f"d_{x}_d_{x}", [f"d_{x}_d_{x}"], FALSE_ARR, 5)
        else:
            name = f"d_{x}_d_{x}_{loop}_{loop}"
            self.add(FALSE_ARR, name)
            self.out(f"d_{x}_d_{x}_{loop}", [name], FALSE_ARR, 4)

    def one_off_renames(self, table_id):
        maps = RENAMES.get(table_id, [])
        self.add(GENERIC, *[s for s, _ in maps])
        targets = []
        for _, t in maps:
            if t.lower() not in targets:
                targets.append(t.lower())
        for t in targets:
            self.out(t, [s for s, tt in maps if tt.lower() == t], GENERIC, 1)

    def custom_transforms(self):
        self.add(AGE_YEAR, AGE_SOURCE)
        self.out("D_317093647_D_623218391", [AGE_SOURCE], AGE_YEAR, 3, AGE)
        self.out("D_317093647_D_802622485", [AGE_SOURCE], AGE_YEAR, 3, YEAR)
        self.out("d_317093647", [AGE_SOURCE], AGE_YEAR, 5)


# how many columns of each rarer family one _fill call adds
RARE = 2


def _fill(b, width, shared, false_arr):
    """Adds `width` columns: the rarer families at fixed counts, the given
    false-array columns, the sensitive-tier columns when `shared`, and the
    rest in clean_columns_wide's blocks (see the module docstring)."""
    start = len(b.cols)
    for _ in range(RARE):
        b.loop_single(True)
        b.non_loop(GENERIC, upper=True)
        b.versioned_loop(plain_too=True)
        b.multi_cid()
        b.versioned_non_loop()
        b.num_suffix()
        b.collision()
        b.non_loop(MOSTLY_BINARY)
    for i, x in enumerate(false_arr):
        b.false_array(x, None if i % 2 == 0 else 1 + i % 9)
    if shared:
        for c in SENSITIVE[1:]:
            b.non_loop(GENERIC, c=c[2:])
    block = ["pair"] + ["plain", "loop", "versioned", "state"] * 20
    i = k = 0
    while len(b.cols) - start < width:
        kind = block[i % len(block)]
        i += 1
        if kind == "pair":
            if width - (len(b.cols) - start) >= 2:
                b.loop_pair(BINARY if k % 9 == 0 else GENERIC)
                k += 1
            continue
        dom = BINARY if k % 9 == 0 else GENERIC
        k += 1
        if kind == "plain":
            b.non_loop(dom)
        elif kind == "loop":
            b.loop_single(False, dom)
        elif kind == "versioned":
            b.versioned_loop(dom)
        else:
            b.state_prefix(dom)


def _table(b, table_id, version, rnd, key_lo, rows):
    """Shuffles the columns, then orders the outputs the way the reference's
    process_columns emits them: Connect_ID, one-off renames (config order),
    substring removal, custom transforms (config order), loop groups, then
    non-loop names, each group placed by its first column."""
    cols = list(b.cols)
    rnd.shuffle(cols)
    pos = {c[0]: i for i, c in enumerate(cols)}
    outs = []
    for k, (name, srcs, dom, rule, step) in enumerate(b.outs):
        if step == 4:
            srcs = sorted(srcs, key=pos.get)
        elif step == 2:
            srcs = sorted(srcs, key=lambda s: (sum(x in s for x in ("_num", "state_")), pos[s]))
        order = k if step in (1, 3) else min(pos[s] for s in srcs)
        outs.append({"name": name, "sources": srcs, "dom": dom, "rule": rule,
                     "step": step, "order": order})
    outs.sort(key=lambda o: (o["step"], o["order"]))
    outs.insert(0, {"name": "Connect_ID", "sources": ["Connect_ID"], "dom": GENERIC,
                    "rule": COALESCE, "step": 0, "order": 0})
    return {"table_id": table_id, "version": version, "cols": cols, "key_lo": key_lo,
            "rows": rows, "outs": outs}


def spec(seed, widths, rows):
    """The module ladder: module1 is the widest and carries the configured
    renames and custom transforms."""
    rnd = random.Random(seed)
    used = {c[2:] for c in SENSITIVE[1:]} | set(FALSE_ARRAY_CIDS) | {AGE_SOURCE[2:]}
    for pairs in RENAMES.values():
        for s, t in pairs:
            used |= set(re.findall(r"\d{9}", s + " " + t))
    fa = list(FALSE_ARRAY_CIDS)
    rnd.shuffle(fa)
    modules = []
    for i, w in enumerate(widths):
        name = f"module{i + 1}"
        common = Builder(rnd, used)
        _fill(common, int(w * 0.9), True, fa[i * 20:i * 20 + 14])
        common.add(GENERIC, FORBIDDEN[rnd.randrange(len(FORBIDDEN))])
        tables = []
        for v in (1, 2):
            b = Builder(rnd, used)
            b.cols += common.cols
            b.outs += common.outs
            table_id = f"FlatConnect.{name}_v{v}_JP"
            b.one_off_renames(table_id)
            if table_id == CUSTOM_TABLE:
                b.custom_transforms()
            present = {c[0] for c in b.cols}
            for f in FORBIDDEN:
                if rnd.randrange(3) == 0 and f not in present:
                    b.add(GENERIC, f)
            lo = i * 20 + 14 + 3 * (v - 1)
            _fill(b, w - len(b.cols), False, fa[lo:lo + 3])
            tables.append(_table(b, table_id, v, rnd, 0 if v == 1 else rows // 2, rows))
        modules.append({"name": name, "v1": tables[0], "v2": tables[1]})
    return {"seed": seed, "modules": modules}


# --- values -----------------------------------------------------------------

def _domain_values(dom):
    return {
        BINARY: ["0", "1", None, ""],
        MOSTLY_BINARY: ["0", "1", None, ""],
        FALSE_ARR: ["[]", "[178420302]", "[958239616]", None, "junk"],
        AGE_YEAR: AGE_VALUES,
    }[dom]


def raw_table(seed, module_idx, t):
    """The raw parquet table: Connect_ID then the shuffled columns. A
    generic column holds 0..m-1, with m-1 in its first row so that it is
    never binary; a mostly-binary column holds one "2", in its first row."""
    rows = t["rows"]
    keys = np.arange(t["key_lo"], t["key_lo"] + rows) + 1000000000 + (seed % 1000000) * 1000
    arrays = [pc.cast(pa.array(keys), pa.string())]
    for j, (_, dom, m, nulls) in enumerate(t["cols"]):
        rng = np.random.default_rng([seed, module_idx, t["version"], j])
        if dom == GENERIC:
            vals = rng.integers(0, m, rows)
            vals[0] = m - 1
            arr = pc.cast(pa.array(vals), pa.string())
        else:
            domain = _domain_values(dom) + ["2"]
            idx = rng.integers(0, len(domain) - 1, rows)
            if dom == MOSTLY_BINARY:
                idx[0] = len(domain) - 1
            arr = pa.array(domain, pa.string()).take(pa.array(idx))
        if nulls:
            null = np.arange(rows) % 3 == 0
            null[0] = False
            arr = pc.if_else(pa.array(null), pa.nulls(rows, pa.string()), arr)
        arrays.append(arr)
    return pa.Table.from_arrays(arrays, names=["Connect_ID"] + [c[0] for c in t["cols"]])


def write_inputs(spec_, out_dir):
    """Writes every raw table, and the spec perfbench.Main reads."""
    out_dir = Path(out_dir).resolve()
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, m in enumerate(spec_["modules"]):
        for v in ("v1", "v2"):
            path = out_dir / f"{m['name']}_{v}.parquet"
            pq.write_table(raw_table(spec_["seed"], i, m[v]), path)
            m[v]["path"] = str(path)
    (out_dir / "spec.json").write_text(json.dumps(spec_))


# --- expected outputs -------------------------------------------------------

def _age(c):
    ok = pc.fill_null(pc.match_substring_regex(c, r"^\d{1,3}$"), False)
    v = pc.cast(pc.if_else(ok, c, None), pa.int64())
    return pc.if_else(pc.and_(pc.greater_equal(v, 0), pc.less_equal(v, 125)), v, None)


def _year(c):
    ok = pc.fill_null(pc.match_substring_regex(c, r"^\d{4}$"), False)
    return pc.cast(pc.if_else(ok, c, None), pa.int64())


def clean_columns(raw, t):
    cols = {}
    for o in t["outs"]:
        src = [raw.column(s) for s in o["sources"]]
        if o["rule"] == AGE:
            cols[o["name"]] = _age(src[0])
        elif o["rule"] == YEAR:
            cols[o["name"]] = _year(src[0])
        else:
            cols[o["name"]] = src[0] if len(src) == 1 else pc.coalesce(*src)
    return pa.table(cols)


def _kind(o):
    if o["dom"] == BINARY and o["rule"] == COALESCE:
        return 0
    return 1 if o["dom"] == FALSE_ARR else 2


def clean_rows(cc, t):
    """Binary columns (sorted) recoded 1/0 to the yes/no concept ids, false
    arrays (sorted) unwrapped, the rest (sorted) unchanged."""
    outs = sorted(t["outs"], key=lambda o: (_kind(o), o["name"]))
    cols = {}
    for o in outs:
        c = cc.column(o["name"])
        if _kind(o) == 0:
            c = pc.if_else(pc.fill_null(pc.equal(c, "1"), False), CID_YES,
                           pc.if_else(pc.fill_null(pc.equal(c, "0"), False), CID_NO, None))
        elif _kind(o) == 1:
            ok = pc.fill_null(pc.match_substring_regex(c, r"^\[\d{9}\]$"), False)
            c = pc.if_else(ok, pc.utf8_slice_codeunits(c, 1, 10), None)
        cols[o["name"]] = c
    return pa.table(cols)


def _valid(names):
    forbidden = {f.lower() for f in FORBIDDEN_ALL}
    return [n for n in names if n.lower() not in forbidden
            and not any(s in n.lower() for s in EXCLUDED_SUBSTRINGS)]


def merge(a, b):
    """Full outer join on Connect_ID: common columns (case-insensitive,
    sorted) coalesce with v1 first, then v1's own and v2's own columns, each
    sorted; names lowercased except Connect_ID."""
    na, nb = _valid(a.column_names), _valid(b.column_names)
    la, lb = {c.lower(): c for c in na}, {c.lower(): c for c in nb}
    ka = a.column(la["connect_id"]).to_pylist()
    kb = b.column(lb["connect_id"]).to_pylist()
    keys = list(dict.fromkeys(ka + kb))
    ia, ib = {k: i for i, k in enumerate(ka)}, {k: i for i, k in enumerate(kb)}
    ta = pa.array([ia.get(k) for k in keys], pa.int64())
    tb = pa.array([ib.get(k) for k in keys], pa.int64())

    def out_name(c):
        return "Connect_ID" if c.lower() == "connect_id" else c.lower()
    common = sorted(set(la) & set(lb))
    cols = {}
    for lc in common:
        cols[out_name(lc)] = pc.coalesce(a.column(la[lc]).take(ta), b.column(lb[lc]).take(tb))
    for c in sorted(x for x in na if x.lower() not in common):
        cols[out_name(c)] = a.column(c).take(ta)
    for c in sorted(x for x in nb if x.lower() not in common):
        cols[out_name(c)] = b.column(c).take(tb)
    return pa.table(cols)


def sensitive(merged):
    by_lower = {c.lower(): c for c in merged.column_names}
    return pa.table({c: merged.column(by_lower[c.lower()]) for c in SENSITIVE})


def expected_outputs(spec_):
    """{(module, output name): expected table} for every request of a DAG."""
    exp = {}
    for m in spec_["modules"]:
        cc = {v: clean_columns(pq.read_table(m[v]["path"]), m[v]) for v in ("v1", "v2")}
        cr = {v: clean_rows(cc[v], m[v]) for v in ("v1", "v2")}
        merged = merge(cr["v1"], cr["v2"])
        exp.update({(m["name"], "cc_v1"): cc["v1"], (m["name"], "cc_v2"): cc["v2"],
                    (m["name"], "cr_v1"): cr["v1"], (m["name"], "cr_v2"): cr["v2"],
                    (m["name"], "merged"): merged,
                    (m["name"], "sensitive"): sensitive(merged)})
    return exp


def _sorted_by_key(t):
    key = next(c for c in t.column_names if c.lower() == "connect_id")
    return t.sort_by([(key, "ascending")])


def compare(actual_dir, want):
    """None when the written table equals the expected one (column names,
    order and types, and every value), else what differs."""
    got = pq.read_table(actual_dir)
    if got.column_names != want.column_names:
        diff = next((i for i, (x, y) in enumerate(zip(got.column_names, want.column_names))
                     if x != y), min(got.num_columns, want.num_columns))
        return (f"columns differ at {diff}: {got.column_names[diff:diff + 2]} vs "
                f"{want.column_names[diff:diff + 2]} ({got.num_columns} vs {want.num_columns})")
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows vs {want.num_rows}"
    got, want = _sorted_by_key(got), _sorted_by_key(want)
    for name in want.column_names:
        g, w = got.column(name), want.column(name)
        if g.type != w.type:
            return f"{name}: type {g.type} vs {w.type}"
        if not g.equals(w):
            return f"{name}: values differ"
    return None
