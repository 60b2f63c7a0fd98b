from .normalize import normalize_cycler  # noqa: F401
from .capacity import capacity_ce_per_cycle  # noqa: F401
from .energy import energy_wh_per_cycle  # noqa: F401
from .ir import ir_c2_per_cycle  # noqa: F401
from .dqdv import dqdv_peak_per_cycle  # noqa: F401
from .fade import fade_and_rul  # noqa: F401
from .features import full_feature_pipeline, per_cycle_features  # noqa: F401
from .qc import qc_checks, qc_report  # noqa: F401
from .collate import collate_feature_csvs, add_cell_id  # noqa: F401
