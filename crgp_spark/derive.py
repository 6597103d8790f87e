"""Influence-edge derivation — the CRGP-equivalent core, as ONE declarative
DataFrame pipeline.

The reference implements this as two hand-built timely dataflows (GALE:
``reconstruction/algorithms/gale.rs:34-47``; LEAF: ``leaf.rs:39-71``) over a
stateful binary operator (``timely_extensions/operators/reconstruct.rs:
37-134``). Both are physical variants of one logical query:

    edge  u -> v  for event e by v   iff
        u is a candidate influencer of v
        AND ( first_activation(cascade, u).ts  <  e.ts      -- strict!
              OR u == cascade originator )                  -- leaf.rs:58-65

where ``first_activation`` is the first (in stable stream order) event of
``u`` in the cascade (``or_insert`` first-wins, ``reconstruct.rs:66-67``),
seeded with the originator at the original timestamp
(``reconstruct.rs:59-65``).

We express the logical query once and let Catalyst/AQE pick the physical
shape (broadcast vs shuffle ≈ GALE vs LEAF; skew-join splitting for hub
cascades). Where the two reference variants diverge — an event whose ts
equals the original post's ts: GALE's strict ``>`` emits nothing
(``reconstruct.rs:83``) while LEAF's OR-branch emits the originator edge
(``leaf.rs:63-65``) — we follow LEAF, matching the reference's documented
intent ("or u' is the poster of the original Tweet").

Scale notes (100 TB / 10^12 turns):
- Both aggregations are partial-aggregatable (map-side combine) on
  ``conv_id`` / ``(conv_id, participant)``.
- The candidate join fans out each turn by at most
  ``participants-per-conv`` (bounded, like the reference's friend lists);
  AQE skew-join splits giant conversations at runtime.
- Everything is whole-stage-codegen'd JVM expressions; no Python in this
  pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crgp_spark.functions import participant, ts_micros, vid


def prepare_turns(transcripts: DataFrame) -> DataFrame:
    """Normalize the transcripts table to the engine's turn view:
    ``(conv_id, turn_idx, participant, ts)`` with integer-µs timestamps.

    ``(conv_id, turn_idx)`` is the stable ordering key — the engine's
    explicit replacement for the reference's sorted-input contract
    (``twitter/get.rs:142-147``)."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        participant().alias("participant"),
        ts_micros("ts").alias("ts"),
    )


def first_activations(turns: DataFrame) -> DataFrame:
    """First activation per (conversation, participant): the analog of the
    reference's per-cascade ``HashMap or_insert`` activation state
    (``reconstruct.rs:59-67``), as a min-aggregation over the stable
    ordering key (first-wins under (turn_idx, ts) lexicographic order)."""
    # min + min_by instead of min(struct(...)): struct-min forces a
    # SortAggregate; these stay in HashAggregate with map-side partial
    # combine (turn_idx is unique per conversation, so min_by is
    # deterministic and (min turn_idx, its ts) == lexicographic min).
    return turns.groupBy("conv_id", "participant").agg(
        F.min("turn_idx").alias("act_turn"),
        F.min_by("ts", "turn_idx").alias("act_ts"),
    )


def originators(turns: DataFrame) -> DataFrame:
    """Conversation originator = participant of the globally-first turn
    (the original-tweet poster, ``reconstruct.rs:59-65``)."""
    return turns.groupBy("conv_id").agg(
        F.min("turn_idx").alias("orig_turn"),
        F.min_by("participant", "turn_idx").alias("orig_participant"),
    )


def derive_edge_turns(
    transcripts: DataFrame,
    friendships: DataFrame | None = None,
) -> DataFrame:
    """Derive influence edges in natural-key form:
    ``(conv_id, src_turn, src_participant, dst_turn, dst_participant, ts,
    orig_turn)`` — one row per (influencing participant, influenced turn).

    ``friendships`` (optional) restricts candidate influencers like the
    reference's social graph: columns ``(user, friend)`` where ``friend``
    is a candidate influencer of ``user`` (types must match the
    participant column). When omitted, every *other* participant of the
    conversation is a candidate (the dense per-conversation graph of
    SURVEY.md §7.1).
    """
    turns = prepare_turns(transcripts)
    return influence_edges(
        turns, first_activations(turns), originators(turns), friendships
    )


def influence_edges(
    turns: DataFrame,
    acts: DataFrame,
    orig: DataFrame,
    friendships: DataFrame | None = None,
) -> DataFrame:
    """The influence rule itself — the one place it is written down. Emits
    the edges into every turn of ``turns`` (the output schema of
    ``derive_edge_turns``) against the activation state ``acts``
    (``first_activations``) and the originators ``orig`` (``originators``).

    The batch path passes state computed from ``turns`` itself; the
    incremental path (``streaming/incremental.py``) passes one epoch's
    turns and the activation state merged up to that epoch — the
    reference's single stateful operator applied per epoch
    (``reconstruct.rs:59-115``, ``run.rs:118-129``)."""
    # Influenced turns: every turn except the conversation opener
    # (= the reference's retweets; the original tweet emits no edge).
    targets = turns.join(orig, "conv_id").filter(
        F.col("turn_idx") != F.col("orig_turn")
    )

    # Candidate generation ≈ FindPossibleInfluences
    # (find_possible_influences.rs:36-96): all activated participants of
    # the conversation except the turn's own participant.
    cand = targets.join(
        acts.select(
            "conv_id",
            F.col("participant").alias("influencer"),
            "act_turn",
            "act_ts",
        ),
        "conv_id",
    ).filter(F.col("influencer") != F.col("participant"))

    if friendships is not None:
        # VIP-style restriction to the explicit social graph (the
        # reference's adjacency probe, reconstruct.rs:71-74): keep the
        # candidate iff the influenced participant follows the influencer.
        cand = cand.join(
            F.broadcast(friendships.select("user", "friend").distinct()),
            (cand["participant"] == F.col("user"))
            & (cand["influencer"] == F.col("friend")),
            "left_semi",
        )

    # Influence filter (leaf.rs:53-66): strictly-earlier activation, or
    # the influencer is the cascade originator.
    edges = cand.filter(
        (F.col("act_ts") < F.col("ts"))
        | (F.col("influencer") == F.col("orig_participant"))
    )

    return edges.select(
        "conv_id",
        F.col("act_turn").alias("src_turn"),
        F.col("influencer").alias("src_participant"),
        F.col("turn_idx").alias("dst_turn"),
        F.col("participant").alias("dst_participant"),
        "ts",
        "orig_turn",
    )


def derive_edges(
    transcripts: DataFrame,
    friendships: DataFrame | None = None,
) -> DataFrame:
    """Derive the influence-edge table in vertex-id form — the engine's
    analog of the reference's ``InfluenceEdge`` output record
    (``social_graph/influence_edge.rs:20-43``):
    ``(src, dst, ts, turn_idx, conv_id, orig)`` with
    ``vid = xxhash64(conv_id, turn_idx)`` vertex identities."""
    e = derive_edge_turns(transcripts, friendships)
    return e.select(
        vid("conv_id", "src_turn").alias("src"),
        vid("conv_id", "dst_turn").alias("dst"),
        "ts",
        F.col("dst_turn").alias("turn_idx"),
        "conv_id",
        vid("conv_id", "orig_turn").alias("orig"),
    )


def derive_edges_from_retweets(
    retweets: DataFrame, friendships: DataFrame
) -> DataFrame:
    """Reference-shaped path: flattened retweets × social graph →
    influence edges keyed by user ids — the direct logical equivalent of
    GALE/LEAF over the reference's own input model (flattened ``Retweet``,
    ``twitter/retweet.rs:22-34``; adjacency ``social_graph/graph.rs:17-22``).

    Output: ``(cascade_id, retweet_id, influencee, influencer, ts,
    original_user)`` — the fields of ``InfluenceEdge`` / the ``cascs.csv``
    line format (``influence_edge.rs:62-68``).
    """
    # Activation state: first event per (cascade, user); the originator is
    # seeded at the original tweet's timestamp (reconstruct.rs:59-67).
    acts = (
        retweets.select(
            "cascade_id", F.col("rt_user").alias("user"), F.col("rt_ts").alias("ts")
        )
        .unionByName(
            retweets.select(
                "cascade_id",
                F.col("orig_user").alias("user"),
                F.col("orig_ts").alias("ts"),
            )
        )
        .groupBy("cascade_id", "user")
        .agg(F.min("ts").alias("act_ts"))
    )

    # Candidate generation (find_possible_influences.rs:36-96): one
    # candidate per (retweet, friend of the retweeter).
    cand = retweets.join(
        friendships.withColumnRenamed("user", "rt_user"),
        "rt_user",
    )

    # Influence filter (leaf.rs:53-66).
    out = (
        cand.join(
            acts.select(
                "cascade_id", F.col("user").alias("friend"), "act_ts"
            ),
            ["cascade_id", "friend"],
            "left",
        )
        .filter(
            (F.col("act_ts") < F.col("rt_ts"))
            | (F.col("friend") == F.col("orig_user"))
        )
    )
    return out.select(
        "cascade_id",
        F.col("rt_id").alias("retweet_id"),
        F.col("rt_user").alias("influencee"),
        F.col("friend").alias("influencer"),
        F.col("rt_ts").alias("ts"),
        F.col("orig_user").alias("original_user"),
    )
