"""Error operators: user-supplied skip/replace overrides by location.

The reference lets an operator skip a failing DDL or inject replacement
SQL at a binlog position (`handle-error`, syncer/handle_error.go:32-73;
match/apply syncer/err-operator/operator.go:60-173; injected events get
an artificial location Suffix so ordering stays total,
pkg/binlog/position.go Suffix). Here: an override table keyed by
(file_seq, pos), resolved once per statement location by
`ReplayRunner.handle_ddl`, the only caller — nothing else expands an
operator."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class ErrorOperators:
    # (file_seq, pos) -> {"kind": "skip"} | {"kind": "replace", "actions": [...]}
    ops: dict[tuple[int, int], dict] = field(default_factory=dict)

    def set_skip(self, file_seq: int, pos: int) -> None:
        self.ops[(file_seq, pos)] = {"kind": "skip"}

    def set_replace(self, file_seq: int, pos: int, actions: list[dict]) -> None:
        self.ops[(file_seq, pos)] = {"kind": "replace", "actions": list(actions)}

    def revert(self, file_seq: int, pos: int) -> bool:
        return self.ops.pop((file_seq, pos), None) is not None

    def resolve(self, file_seq: int, pos: int) -> list[dict] | None:
        """The operator at one statement location: None when none is
        set (the statement applies as parsed), [] for a skip, or a
        replace's replacement events (DdlEvent field dicts), each
        stamped with the location plus a `suffix` ordinal — the
        reference's Location.Suffix (pkg/binlog/position.go:229-235,
        :298-317). pos itself is never mutated, so genuine later events
        in the same file keep their place in the total order."""
        ov = self.ops.get((file_seq, pos))
        if ov is None:
            return None
        if ov["kind"] == "skip":
            return []
        return [
            {**rep, "file_seq": file_seq, "pos": pos, "suffix": i + 1}
            for i, rep in enumerate(ov["actions"])
        ]
