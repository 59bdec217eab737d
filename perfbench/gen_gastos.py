"""Seeded generator of raw gastos API pages (the medallion pipeline's input).

A page is one JSON file of ``records_per_page`` spending records, in one of
the two shapes the source API produces: a bare JSON array (even pages) or
the ``{count, next, previous, results}`` envelope (odd pages). On top of
that the generator writes a fixed number of corrupt files, skews
``nome_orgao`` with a Zipf law (and pads/lower-cases some spellings, so the
silver upper/trim matters), and makes a small share of ``valor`` strings
unparseable (silver coerces them to 0). Every record passes the silver DQ
gate.

Alongside the bytes it returns what the pipeline must produce: the gold
total per (ano, mes, ORGAO), the silver row count per month, the record and
corrupt-file counts, and the per-favorecido month totals the drill-down
read is checked against. The same arguments give byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field

ORGAOS = [f"Ministerio {i:02d}" for i in range(40)]
FAVORECIDOS = [f"Favorecido {i:04d}" for i in range(2000)]
PROGRAMAS = [f"Programa {i:02d}" for i in range(30)]
FUNCOES = [f"Funcao {i:02d}" for i in range(28)]
GRUPOS = ["Pessoal", "Juros", "Outras Correntes", "Investimentos", "Inversoes"]
BAD_VALOR = ["", "n/d", "1.234,56", "--"]
CORRUPT_TEXT = "{not a json page "  # undecodable: isolated by the permissive scan


@dataclass
class RawPages:
    """What a generated raw directory holds and what the pipeline must make of it."""

    n_records: int = 0
    n_corrupt: int = 0
    raw_bytes: int = 0
    gold: dict[tuple[int, int, str], float] = field(default_factory=dict)
    silver_rows: dict[tuple[int, int], int] = field(default_factory=dict)
    favorecido: dict[tuple[int, int], dict[str, float]] = field(default_factory=dict)


def _zipf_cum_weights(n: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for k in range(n):
        acc += 1.0 / (k + 1) ** s
        out.append(acc)
    return out


_ORGAO_CUM_W = _zipf_cum_weights(len(ORGAOS))


def _spelling(rng: random.Random, name: str) -> str:
    r = rng.random()
    if r < 0.1:
        return f"  {name.lower()} "
    if r < 0.2:
        return f"{name.upper()}  "
    return name


def _record(rng: random.Random, ano: int, mes: int, seq: int) -> tuple[dict, str, float, str]:
    orgao = rng.choices(ORGAOS, cum_weights=_ORGAO_CUM_W)[0]
    fav = FAVORECIDOS[int(rng.paretovariate(1.2)) % len(FAVORECIDOS)]
    cents = rng.randint(100, 5_000_000)
    if rng.random() < 0.005:
        valor_s, valor = rng.choice(BAD_VALOR), 0.0
    else:
        valor_s, valor = f"{cents // 100}.{cents % 100:02d}", cents / 100
    day = rng.randint(1, 28)
    rec = {
        "codigo_elemento_despesa": rng.randint(1, 99),
        "codigo_funcao": rng.randint(1, 28),
        "codigo_grupo_despesa": rng.randint(1, 5),
        "codigo_orgao": 20000 + int(orgao[-2:]),
        "codigo_orgao_superior": rng.randint(20000, 20010),
        "codigo_programa": rng.randint(1000, 9999),
        "codigo_subfuncao": rng.randint(100, 999),
        "codigo_unidade_gestora": rng.randint(100000, 999999),
        "codigo_acao": f"{rng.randint(0, 0xFFFF):04X}",
        "codigo_favorecido": f"{rng.randint(0, 10**14):014d}",
        "data_pagamento": f"{ano:04d}-{mes:02d}-{day:02d}",
        "data_pagamento_original": f"{day:02d}/{mes:02d}/{ano:04d}",
        "gestao_pagamento": f"{rng.randint(0, 99999):05d}",
        "linguagem_cidada": None,
        "nome_acao": f"Acao {rng.randint(0, 199):03d}",
        "nome_elemento_despesa": f"Elemento {rng.randint(0, 99):02d}",
        "nome_favorecido": _spelling(rng, fav),
        "nome_funcao": rng.choice(FUNCOES),
        "nome_grupo_despesa": rng.choice(GRUPOS),
        "nome_orgao": _spelling(rng, orgao),
        "nome_orgao_superior": "Presidencia",
        "nome_programa": rng.choice(PROGRAMAS),
        "nome_subfuncao": f"Subfuncao {rng.randint(0, 99):02d}",
        "nome_unidade_gestora": f"UG {seq % 500:03d}",
        "numero_documento": f"{ano}OB{seq:08d}",
        "valor": valor_s,
        "ano": ano,
        "mes": mes,
    }
    return rec, orgao.upper(), valor, fav.upper()


def write_pages(
    out_dir: str,
    seed: int,
    months: list[tuple[int, int]],
    n_pages: int,
    records_per_page: int,
    n_corrupt: int = 0,
) -> RawPages:
    """Write ``n_pages`` pages (records spread round-robin over ``months``)
    plus ``n_corrupt`` corrupt files into ``out_dir``; return the expectations."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    exp = RawPages()
    gold: dict[tuple[int, int, str], float] = defaultdict(float)
    rows: dict[tuple[int, int], int] = defaultdict(int)
    favs: dict[tuple[int, int], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    seq = 0
    for p in range(n_pages):
        recs = []
        for _ in range(records_per_page):
            ano, mes = months[seq % len(months)]
            rec, orgao, valor, fav = _record(rng, ano, mes, seq)
            recs.append(rec)
            gold[(ano, mes, orgao)] += valor
            rows[(ano, mes)] += 1
            favs[(ano, mes)][fav] += valor
            seq += 1
        page_no = p + 1
        if page_no % 2 == 0:
            doc = recs
        else:
            doc = {"count": len(recs), "next": None, "previous": None, "results": recs}
        data = json.dumps(doc, ensure_ascii=False).encode()
        with open(os.path.join(out_dir, f"page_{page_no:05d}.json"), "wb") as f:
            f.write(data)
        exp.raw_bytes += len(data)
    for c in range(n_corrupt):
        data = (CORRUPT_TEXT + str(c)).encode()
        with open(os.path.join(out_dir, f"page_corrupt_{c:03d}.json"), "wb") as f:
            f.write(data)
        exp.raw_bytes += len(data)
    exp.n_records = seq
    exp.n_corrupt = n_corrupt
    exp.gold = dict(gold)
    exp.silver_rows = dict(rows)
    exp.favorecido = {k: dict(v) for k, v in favs.items()}
    return exp


BATCH_MONTHS = [(2019, m) for m in range(1, 13)]  # the batch input's months
LOAD_MONTH = (2020, 1)  # the month the incremental load adds to the batch's lake
