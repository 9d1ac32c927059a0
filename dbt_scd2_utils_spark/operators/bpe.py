"""Corpus-scale BPE merge learning (tokenizer training).

Beyond-reference surface: the byte-pair-encoding merge-table learner of
Sennrich et al., "Neural Machine Translation of Rare Words with Subword
Units" (ACL'16) — the algorithm behind GPT-2/RoBERTa-style tokenizers —
expressed Spark-first.

The classical trick that makes this tractable at corpus scale is built
in: BPE statistics depend only on the WORD-FREQUENCY table, not the raw
token stream.  ONE distributed corpus pass builds (word, freq) — that is
the only part that touches 100 TB — and the merge loop then runs on the
driver over the collected frequency-weighted vocabulary (Heaps' law:
vocab grows ~ corpus^0.5±, i.e. a multi-TB corpus has an ~10⁶–10⁷-row
word table, megabytes on the driver; ``max_vocab`` bounds pathological
corpora with a frequency-ranked truncation whose error is bounded by the
truncated tail mass).  This is the standard practice of every production
tokenizer trainer and replaces the previous per-merge Spark round trip
(O(n_merges) jobs — 32k jobs for a real vocabulary) with O(1) jobs.

The previous distributed window-chain learner is retained as
:func:`learn_bpe_merges_distributed`; tests pin both paths to the exact
same merge table.

Overlap semantics (pinned by tests and the oracle): merges apply
LEFTMOST-FIRST and non-overlapping — in a run of identical matching
pairs ('aaaa' under merge (a,a)) positions at even offset from the run
start merge: 'aaaa' → 'aa','aa'.  Pair counts are corpus-weighted over
ALL adjacent symbol positions (overlapping occurrences included:
'aaa' contributes 2·freq to (a,a)), matching the windowed lead() count
of the distributed/oracle formulations.  Ties break (count desc,
left asc, right asc) — fully deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.caching import barrier, release

END_MARK = "</w>"

# Default driver-memory bound on the collected (word, freq) table.  A
# frequency-ranked 2M-word cut covers any realistic training vocabulary
# (production tokenizers train on 10⁴–10⁵ merges over ≤10⁶ words) while
# capping the driver collect at tens of MB even on a 100 TB web corpus
# whose raw distinct-token count is 10⁸–10⁹.  Pass ``max_vocab=None``
# to explicitly opt into an unbounded collect.
DEFAULT_MAX_VOCAB = 2_000_000

_CHARS = "concat(regexp_extract_all(w, '.', 0), array('</w>'))"


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    words = (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
    )
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))


# ---------------------------------------------------------------------------
# Driver-local learner (the scale path: O(1) Spark jobs)
# ---------------------------------------------------------------------------


def _driver_learn(
    vocab, n_merges: int
) -> tuple[
    list[tuple[int, str, str, int]],
    dict[str, list[str]],
    dict[str, int],
]:
    """Classical in-memory BPE over a frequency-weighted (word, freq)
    iterable (consumed ONCE — callers may pass the lazy Arrow-batch
    stream) with incremental pair-count maintenance (only words
    containing the chosen pair are reprocessed per round — Sennrich's
    learn_bpe optimization).  Returns (merge table, word → symbol-list
    segmentation state, word → freq)."""
    syms: dict[str, list[str]] = {}
    freq: dict[str, int] = {}
    for w, f in vocab:
        syms[w] = list(w) + [END_MARK]
        freq[w] = int(f)

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[str]] = {}

    def add_word(w: str) -> None:
        s, f = syms[w], freq[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(w)

    def drop_word(w: str) -> None:
        s, f = syms[w], freq[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pair_counts[p] -= f
            if pair_counts[p] <= 0:
                del pair_counts[p]
                pair_words.pop(p, None)
            else:
                pair_words[p].discard(w)

    for w in syms:
        add_word(w)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        if not pair_counts:
            break
        # tie-break identical to the engine/oracle orderBy:
        # count desc, left asc, right asc
        (left, right), cnt = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, int(cnt)))
        for w in list(pair_words.get((left, right), ())):
            drop_word(w)
            s = syms[w]
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
            add_word(w)
    return merges, syms, freq


def _collect_vocab(
    df: DataFrame, text_col: str, max_vocab: int | None
):
    """The one distributed pass: (word, freq) pairs, optionally truncated
    to the ``max_vocab`` most frequent words (freq desc, word asc — a
    deterministic frequency-ranked cut; any pair count learned on the
    truncated table is within the truncated tail's total token mass of
    the exact count).

    Fetched as ARROW batches (``DataFrame.toArrow``) and yielded lazily:
    at the 2M-word bound the resident footprint is the columnar table
    (string data + one int64 column, ~tens of MB) instead of 2M pickled
    Row objects + a 2M-tuple list (~10× that) — the consumer builds its
    own dicts in one pass, so no row-object intermediate ever exists."""
    v = _word_vocab(df, text_col)
    if max_vocab is not None:
        v = (
            v.orderBy(F.col("freq").desc(), F.col("w").asc())
            .limit(int(max_vocab))
        )
    for batch in v.toArrow().to_batches():
        yield from zip(
            batch.column(0).to_pylist(),
            map(int, batch.column(1).to_pylist()),
        )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus:
    ``(merge_rank, left, right, pair_count)``, ranked in learning order;
    ``pair_count`` is the corpus-weighted frequency of the pair when it
    was chosen.  Fully deterministic, so the DuckDB twin
    :func:`learn_bpe_merges_sql` reproduces the exact same table.

    Words are lowercased whitespace tokens; initial symbols are unicode
    characters plus a ``</w>`` end-of-word marker (so merges distinguish
    word-final units, as in the original algorithm).

    Scale shape: one distributed (word, freq) aggregation — the only
    pass over the corpus — then a driver-local merge loop on the
    Heaps-bounded vocabulary (see module docstring; ``max_vocab`` for a
    hard driver-memory bound).  A 32k-merge production run is one Spark
    job, not 32k.  ``max_vocab`` defaults to the
    :data:`DEFAULT_MAX_VOCAB` frequency-ranked cut so the collect is
    bounded BY DEFAULT; pass ``None`` to opt into an unbounded one."""
    merges, _ = _learn(df, n_merges, text_col, max_vocab)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank long, left string, right string, pair_count long",
    )


def _learn(
    df: DataFrame,
    n_merges: int,
    text_col: str,
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the driver-local merge learner; returns (merge list, final
    per-word symbol state as a DataFrame) — the state IS the
    segmentation of every vocabulary word under the learned merges,
    which :func:`bpe_token_counts` joins documents against."""
    spark = df.sparkSession
    merges, syms, freq = _driver_learn(
        _collect_vocab(df, text_col, max_vocab), n_merges
    )
    state = spark.createDataFrame(
        [(w, freq[w], s) for w, s in syms.items()],
        "w string, freq long, syms array<string>",
    )
    return merges, state


# ---------------------------------------------------------------------------
# Distributed learner (retained: the all-in-plan formulation; used by
# tests to pin the driver-local path to identical output)
# ---------------------------------------------------------------------------


def learn_bpe_merges_distributed(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """The fully-distributed merge loop (one pair-count aggregation +
    one 1-row argmax collect + one window merge pass per round over the
    shrinking vocabulary).  Correct at any vocabulary size but costs
    O(n_merges) Spark jobs — use :func:`learn_bpe_merges` (driver-local
    over the collected vocabulary) unless the word table genuinely
    cannot be collected even truncated."""
    merges, _ = _learn_distributed(df, n_merges, text_col)
    return df.sparkSession.createDataFrame(
        merges,
        "merge_rank long, left string, right string, pair_count long",
    )


def _learn_distributed(
    df: DataFrame, n_merges: int, text_col: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    # Each round's state is a checkpoint barrier (a leaf plan, not an
    # ever-deeper lineage); the previous round's is released once the new
    # one exists, so one state is live at a time.
    state = barrier(
        _word_vocab(df, text_col).select("w", "freq", F.expr(_CHARS).alias("syms")),
        checkpoint=True,
    )
    wl = Window.partitionBy("w").orderBy("pos")
    wrun = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # persisted: consumed twice per round (the argmax count and the
        # merge application) — without the barrier the explode+window
        # recomputes and each round costs ~2× its data pass
        ex = barrier(
            state.select(
                "w", "freq", F.posexplode("syms").alias("pos", "sym")
            )
            .withColumn("nxt", F.lead("sym").over(wl))
        )
        best = (
            ex.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("sym").asc(), F.col("nxt").asc())
            .limit(1)
            .collect()
        )
        if not best:
            release(ex)
            break
        left, right, cnt = best[0]["sym"], best[0]["nxt"], int(best[0]["cnt"])
        merges.append((rank, left, right, cnt))
        t = (
            ex.withColumn(
                "m", (F.col("sym") == left) & (F.col("nxt") == right)
            )
            .withColumn("mcount", F.sum(F.col("m").cast("int")).over(wrun))
            .withColumn(
                "grp", F.when(F.col("m"), F.col("pos") - F.col("mcount"))
            )
        )
        wg = Window.partitionBy("w", "grp")
        t = (
            t.withColumn(
                "gmin", F.min(F.when(F.col("m"), F.col("pos"))).over(wg)
            )
            .withColumn(
                "merge_at",
                F.col("m") & (((F.col("pos") - F.col("gmin")) % 2) == 0),
            )
            .withColumn(
                "consumed",
                F.coalesce(F.lag("merge_at").over(wl), F.lit(False)),
            )
            .withColumn(
                "tok",
                F.when(F.col("merge_at"), F.concat("sym", "nxt")).otherwise(
                    F.when(~F.col("consumed"), F.col("sym"))
                ),
            )
        )
        prev, state = state, barrier(
            t.filter(F.col("tok").isNotNull())
            .groupBy("w", "freq")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ).alias("syms")
            ),
            checkpoint=True,
        )
        release(ex)
        release(prev)
    return merges, state


def bpe_token_counts(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    learned: tuple | None = None,
    max_vocab: int | None = DEFAULT_MAX_VOCAB,
) -> DataFrame:
    """Tokenize the corpus under its own learned BPE merges and count:
    ``(id, n_words, n_bpe_tokens)`` per document — the sequence-length
    accounting a packing/budgeting pipeline needs under the REAL subword
    vocabulary instead of the whitespace proxy.

    When a caller passes a pre-learned ``learned`` state trained on a
    DIFFERENT corpus, out-of-vocabulary words fall back to
    character-level pieces (len(word) + 1 for the </w> marker) via a
    LEFT join — they are counted, never silently dropped.

    Scale shape: the segmentation lives on the (small, Heaps-bounded)
    word vocabulary; documents join their words against it — a
    broadcast join when the vocab fits (the normal case), one shuffle on
    the word key otherwise — and aggregate map-side.  The raw text is
    never re-tokenized per merge round."""
    _, state = learned if learned is not None else _learn(
        df, n_merges, text_col, max_vocab
    )
    # piece count = symbol-list length; the </w> marker counts as a
    # symbol until a merge fuses it into the final subword — identical
    # accounting in the oracle (len(syms)).
    pieces = state.select("w", F.size("syms").alias("n_pieces"))
    words = (
        df.select(
            F.col(id_col),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    return (
        words.join(pieces, "w", "left")
        .withColumn(
            "n_pieces",
            F.coalesce(F.col("n_pieces"), F.length("w") + F.lit(1)),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
        )
        .select(
            id_col,
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def bpe_chain_sql(
    source_sql: str,
    n_merges: int,
    text_col: str = "text",
) -> str:
    """The shared CTE chain (vocab → state0 → … → state{n}) WITHOUT the
    leading ``with`` or any final select — both oracle twins compose on
    top of this instead of re-parsing each other's generated SQL.
    ``n_merges = 0`` is valid and yields just the character-level
    state0."""
    sql = f"""
vocab as (
  select w, count(*) as freq from (
    select unnest(string_split_regex(lower(trim({text_col})), '\\s+')) as w
    from ({source_sql})
  ) where w <> ''
  group by w
),
state0 as materialized (
  select w, freq,
         list_concat(regexp_extract_all(w, '.'), ['</w>']) as syms
  from vocab
)"""
    for i in range(1, n_merges + 1):
        p = i - 1
        sql += f""",
ex{i} as materialized (
  select w, freq, pos, sym,
         lead(sym) over (partition by w order by pos) as nxt
  from (
    select w, freq,
           unnest(range(len(syms))) as pos,
           unnest(syms) as sym
    from state{p}
  )
),
best{i} as materialized (
  select sym as l, nxt as r, cast(sum(freq) as bigint) as cnt
  from ex{i} where nxt is not null
  group by sym, nxt
  order by cnt desc, l asc, r asc
  limit 1
),
marked{i} as materialized (
  select e.*,
         (e.sym = b.l and e.nxt = b.r) as m,
         sum(case when e.sym = b.l and e.nxt = b.r then 1 else 0 end)
           over (partition by e.w order by e.pos
                 rows between unbounded preceding and current row) as mcount
  from ex{i} e, best{i} b
),
grouped{i} as materialized (
  select *,
         case when m then pos - mcount end as grp
  from marked{i}
),
flagged{i} as materialized (
  select *,
         m and ((pos - min(case when m then pos end)
                   over (partition by w, grp)) % 2 = 0) as merge_at
  from grouped{i}
),
toks{i} as materialized (
  select w, freq, pos,
         case when merge_at then sym || nxt
              when coalesce(lag(merge_at) over (
                     partition by w order by pos), false) then null
              else sym end as tok
  from flagged{i}
),
state{i} as materialized (
  select w, freq, list(tok order by pos) as syms
  from toks{i} where tok is not null
  group by w, freq
)"""
    return sql


def learn_bpe_merges_sql(
    source_sql: str,
    n_merges: int = 10,
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`learn_bpe_merges` — the same iteration
    unrolled as generated CTE chains (state{i} → pairs{i} → best{i});
    positions come from DuckDB's zipping parallel unnest."""
    if n_merges < 1:
        raise ValueError("learn_bpe_merges_sql requires n_merges >= 1")
    chain = bpe_chain_sql(source_sql, n_merges, text_col)
    union = "\nunion all\n".join(
        f"select cast({i} as bigint) as merge_rank, l as \"left\", "
        f"r as \"right\", cnt as pair_count from best{i}"
        for i in range(1, n_merges + 1)
    )
    return f"with {chain}\n{union}"


def bpe_token_counts_sql(
    source_sql: str,
    n_merges: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bpe_token_counts` — composes the shared
    :func:`bpe_chain_sql` and reads the final state{N} (the segmented
    vocabulary).  Mirrors the engine's LEFT-join OOV fallback
    (len(word) + 1) even though a same-corpus twin always matches."""
    chain = bpe_chain_sql(source_sql, n_merges, text_col)
    return f"""with {chain}
, pieces as (
  select w, len(syms) as n_pieces from state{n_merges}
),
docwords as (
  select {id_col}, w from (
    select {id_col},
           unnest(string_split_regex(lower(trim({text_col})), '\\s+')) as w
    from ({source_sql})
  ) where w <> ''
)
select d.{id_col},
       cast(count(*) as bigint) as n_words,
       cast(sum(coalesce(p.n_pieces, length(d.w) + 1)) as bigint)
         as n_bpe_tokens
from docwords d left join pieces p using (w)
group by d.{id_col}
"""
